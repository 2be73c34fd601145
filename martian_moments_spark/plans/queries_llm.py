"""LLM-training-data queries (north-star extension; SURVEY §7.2.6).

Dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard), embedding
similarity search (brute-force + IVF), and text analysis over the
``documents`` / ``embeddings`` tables. Every signature/score is
integer or integer-ratio arithmetic derived from the md5 portable
hash, so even the MinHash and ANN pipelines have EXACT DuckDB oracles
— the oracle SQL is generated from the same seed/scale constants the
Spark side uses (single source of truth in llmops.*).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from martian_moments_spark.catalog import load, table_rows
from martian_moments_spark.guards import assert_bounded, collect_bounded
from martian_moments_spark.llmops.hier import sql_hier_ctes
from martian_moments_spark.llmops.lm import (
    bigram_lm_scores,
    lm_gate,
    sql_bigram_lm_ctes,
    sql_lm_gate,
)
from martian_moments_spark.llmops.dedup import (
    HASH_P,
    char_span_islands,
    char_span_stats,
    merge_hit_islands,
    strip_islands_text,
    MINHASH_SEEDS,
    connected_components,
    minhash_from_hashes,
    exact_dedup,
    lsh_bands,
    lsh_candidates,
    minhash_signature,
    simhash,
)
from martian_moments_spark.llmops.similarity import (
    FIXED_SCALE,
    K_CELLS,
    KMEANS_ITERS,
    KMEANS_SAMPLE,
    N_PROBE,
    cosine_fixed,
    kmeans_units,
    probe_cells,
    sql_kmeans_ctes,
    topk_cosine,
    topk_cosine_blocked,
    topk_units_cells_filtered_pandas,
    topk_units_cells_pandas,
    topk_units_probed,
    with_units_and_norm,
)
from martian_moments_spark.llmops.textops import (
    CHAR_ANCHOR_K,
    SPAN_PACK,
    char_anchor_grams,
    portable_hash31,
    sql_char_anchor_cte,
    predicted_language,
    tokens,
    word_shingles,
    language_scores,
    quality_metrics_packed,
    rolling_fingerprint,
    sql_portable_hash31,
    sql_quality_metrics,
)
from martian_moments_spark.operators.parallelize import narrow, spread
from martian_moments_spark.plans.registry import register

# Shared DuckDB CTE fragments (kept in lockstep with llmops helpers).
_SQL_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"
_SQL_SHINGLES = (
    "list_transform(generate_series(1, greatest(len(t) - 1, 0)), i -> t[i] || ' ' || t[i + 1])"
)


def _sql_minhash_cols() -> str:
    return ",\n            ".join(
        f"list_min(list_transform(s, x -> ({a} * {sql_portable_hash31('x')} + {b}) % {HASH_P})) AS mh_{i}"
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    )


FUZZY_TAU = 0.8  # Jaccard threshold the LSH candidates must verify at

#: CTE chain producing the MinHash+LSH candidate pair set and the
#: per-document distinct-token arrays (ends with ``cand(id_a, id_b)``
#: — id_a < id_b — and ``dtoks(doc_id, tk)``). Splice as the head of a
#: WITH / WITH RECURSIVE list; the deterministic minhash replays
#: bit-for-bit in DuckDB, so the oracle sees the identical candidate
#: graph even where LSH recall < 1.
_SQL_LSH_CAND = f"""toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), sh AS (
            SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks
        ), mh AS (
            SELECT doc_id,
            {_sql_minhash_cols()}
            FROM sh
        ), bands AS (
            SELECT doc_id, 0 AS band_idx,
                   ((0 * 1000003 + COALESCE(mh_0, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_1, 0) % 1000003) % {HASH_P} AS band_val FROM mh
            UNION ALL
            SELECT doc_id, 1,
                   ((0 * 1000003 + COALESCE(mh_2, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_3, 0) % 1000003) % {HASH_P} FROM mh
            UNION ALL
            SELECT doc_id, 2,
                   ((0 * 1000003 + COALESCE(mh_4, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_5, 0) % 1000003) % {HASH_P} FROM mh
            UNION ALL
            SELECT doc_id, 3,
                   ((0 * 1000003 + COALESCE(mh_6, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_7, 0) % 1000003) % {HASH_P} FROM mh
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ), dtoks AS (
            SELECT doc_id, list_distinct({_SQL_TOKS}) AS tk FROM documents
        )"""

#: Extends ``_SQL_LSH_CAND`` with the exact-verified edge set (ends
#: with ``pairs(id_a, id_b)``; id_a < id_b): candidates whose true
#: token-set Jaccard reaches FUZZY_TAU — the oracle twin of
#: ``_lsh_verified_pairs``.
_SQL_LSH_PAIRS = f"""{_SQL_LSH_CAND}, pairs AS (
            SELECT c.id_a, c.id_b
            FROM cand c
            JOIN dtoks ta ON ta.doc_id = c.id_a
            JOIN dtoks tb ON tb.doc_id = c.id_b
            WHERE len(list_distinct(list_concat(ta.tk, tb.tk))) > 0
              AND CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(ta.tk, tb.tk))) AS DOUBLE)
                  >= {FUZZY_TAU}
        )"""


@register(
    "dedup_exact",
    ops=("A1", "A6"),
    bench=True,
    oracle="""
        SELECT md5(text) AS fingerprint,
               MIN(doc_id) AS kept_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: content fingerprint -> keep lowest doc_id.
    One shuffle on the fingerprint; at 100 TB the corpus is bucketed by
    fingerprint so re-dedup of a grown corpus is co-located."""
    return exact_dedup(load(spark, sf_dir, "documents"))


@register(
    "minhash_signatures",
    ops=(),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), sh AS (
            SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks
        )
        SELECT doc_id,
            {_sql_minhash_cols()}
        FROM sh
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 permutations over word 2-shingles). The
    per-document signature stage of fuzzy dedup — per-row array math,
    no shuffle, no UDF."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # md5-per-shingle signatures are the per-row CPU: spread the
    # narrow doc projection first (identity at real scale; r11).
    hashed = spread(docs, "doc_id").withColumn(
        "__sh", F.transform(word_shingles("text"), portable_hash31)
    )
    return hashed.select("doc_id", *minhash_from_hashes(F.col("__sh")))


@register(
    "minhash_lsh_candidates",
    ops=("J2", "A6"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), sh AS (
            SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks
        ), mh AS (
            SELECT doc_id,
            {_sql_minhash_cols()}
            FROM sh
        ), bands AS (
            SELECT doc_id, 0 AS band_idx,
                   ((0 * 1000003 + COALESCE(mh_0, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_1, 0) % 1000003) % {HASH_P} AS band_val FROM mh
            UNION ALL
            SELECT doc_id, 1,
                   ((0 * 1000003 + COALESCE(mh_2, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_3, 0) % 1000003) % {HASH_P} FROM mh
            UNION ALL
            SELECT doc_id, 2,
                   ((0 * 1000003 + COALESCE(mh_4, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_5, 0) % 1000003) % {HASH_P} FROM mh
            UNION ALL
            SELECT doc_id, 3,
                   ((0 * 1000003 + COALESCE(mh_6, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_7, 0) % 1000003) % {HASH_P} FROM mh
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    """,
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidates: signatures -> 4 bands of
    2 rows -> docs sharing any band bucket. The LSH point at scale: the
    only shuffle is the band-bucket join, producing O(collisions)
    pairs instead of the O(n^2) cross product. (Exact duplicates all
    collide — compose exact_dedup first on duplicate-heavy corpora;
    see dedup.lsh_candidates.)"""
    return lsh_candidates(
        load(spark, sf_dir, "documents"), memo_key=sf_dir + ":documents"
    )


@register(
    "simhash_fingerprints",
    ops=(),
    oracle=(
        lambda: f"""
        WITH h AS (
            SELECT doc_id,
                   list_distinct(list_transform({_SQL_TOKS},
                       t -> {sql_portable_hash31('t')})) AS hs
            FROM documents
        )
        SELECT doc_id,
               CAST({' + '.join(f"CASE WHEN len(list_filter(hs, v -> (v & {1 << b}) <> 0)) * 2 > len(hs) THEN {1 << b} ELSE 0 END" for b in range(32))} AS BIGINT) AS simhash32
        FROM h
    """
    )(),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (32-bit) near-dup fingerprints: majority vote per bit
    over distinct-token hashes. Order-insensitive (contrast
    doc_fingerprint). Per-row; token hashes computed once per doc.

    The 32 per-bit majority filters are O(32 x tokens) per document —
    a fan-out stage in CPU terms (r11 profile: 9.5 s in the scan's
    ONE task at sf0.1), so the scan is spread first; identity at real
    scale."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return spread(docs, "doc_id").select(
        "doc_id", simhash("text").alias("simhash32")
    )


@register(
    "ngram_jaccard_pairs",
    ops=("J2", "P6"),
    oracle=f"""
        WITH {_SQL_LSH_CAND}
        SELECT c.id_a, c.id_b,
               CASE WHEN len(list_distinct(list_concat(ta.tk, tb.tk))) > 0
                    THEN CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                         / CAST(len(list_distinct(list_concat(ta.tk, tb.tk))) AS DOUBLE)
                    ELSE 0.0 END AS jaccard
        FROM cand c
        JOIN dtoks ta ON ta.doc_id = c.id_a
        JOIN dtoks tb ON tb.doc_id = c.id_b
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard for every MinHash+LSH candidate pair —
    the verify stage of fuzzy dedup as it actually ships: candidates
    come from band collisions (O(collisions), corpus-wide), never from
    a block self-join. An earlier version of this query verified every
    pair inside a ``source`` block; pair count grew as (corpus/20)^2 —
    the decade sweep measured it at 36 s while every LSH-fed consumer
    stayed ~1 s, so the registered form is now the candidate-fed
    verifier (the quadratic all-pairs arm survives only behind
    ``dedup.jaccard_pairs(allow_block_self_join=True)``, opt-in-loud
    like similarity.topk_cosine's full-scan guard).

    Unthresholded on purpose: downstream consumers pick their tau
    (_lsh_verified_pairs filters this same computation at FUZZY_TAU),
    and the reported value is the TRUE Jaccard — the minhash only
    nominates pairs. Union size is the inclusion-exclusion identity
    |A|+|B|-|A∩B| over per-doc distinct counts, so no per-pair union
    array is materialized. The deterministic minhash replays in the
    oracle, so both engines see the identical candidate graph."""
    return _lsh_candidate_jaccard(spark, sf_dir)


@register(
    "text_quality_scores",
    ops=(),
    oracle=f"""
        SELECT doc_id,
               {sql_quality_metrics("text")["n_tokens"]} AS n_tokens,
               {sql_quality_metrics("text")["n_chars_measured"]} AS n_chars_measured,
               {sql_quality_metrics("text")["avg_token_len"]} AS avg_token_len,
               {sql_quality_metrics("text")["stopword_ratio"]} AS stopword_ratio,
               {sql_quality_metrics("text")["distinct_ratio"]} AS distinct_ratio
        FROM documents
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals (length, token stats, stopword and
    distinct-token ratios) — the filter features of a training-data
    quality gate. All ratios are int/int double divisions
    (deterministic across engines and partitionings)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    q = quality_metrics_packed("text")  # one tokenization for all five
    return docs.select("doc_id", q.alias("__q")).select("doc_id", "__q.*")


@register(
    "language_id",
    ops=("P7",),
    oracle=(
        lambda scores=(
            "CAST(len(list_intersect(tk, ['the', 'a', 'and', 'of', 'is'])) AS INT)",
            "CAST(len(list_intersect(tk, ['der', 'die', 'das', 'und', 'ist'])) AS INT)",
            "CAST(len(list_intersect(tk, ['el', 'la', 'que', 'de', 'es'])) AS INT)",
            "CAST(len(list_intersect(tk, ['le', 'la', 'et', 'les', 'est'])) AS INT)",
            "CAST(len(list_intersect(tk, ['的', '是', '了', '不', '在'])) AS INT)",
        ): f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                             t -> t <> '')) AS tk
            FROM documents
        ), scored AS (
            SELECT doc_id, lang,
                   {scores[0]} AS score_en, {scores[1]} AS score_de,
                   {scores[2]} AS score_es, {scores[3]} AS score_fr,
                   {scores[4]} AS score_zh
            FROM toks
        )
        SELECT doc_id, lang AS labeled_lang, score_en, score_de, score_es,
               score_fr, score_zh,
               CASE
                   WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) AND score_en > 0 THEN 'en'
                   WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) AND score_de > 0 THEN 'de'
                   WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) AND score_es > 0 THEN 'es'
                   WHEN score_fr = greatest(score_en, score_de, score_es, score_fr, score_zh) AND score_fr > 0 THEN 'fr'
                   WHEN score_zh = greatest(score_en, score_de, score_es, score_fr, score_zh) AND score_zh > 0 THEN 'zh'
                   ELSE 'unknown'
               END AS predicted_lang
        FROM scored
    """
    )(),
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language identification: per-language hit counts over
    distinct tokens, argmax with deterministic tie order. (The synthetic
    corpus is vocabulary-uniform, so predictions skew 'en'/'unknown';
    the operator mechanics are what's exercised.)"""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    scores = language_scores("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lg].alias(f"score_{lg}") for lg in ("en", "de", "es", "fr", "zh")],
        predicted_language("text").alias("predicted_lang"),
    )


@register(
    "token_counts",
    ops=("F1",),
    oracle="""
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
                    AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
                    AS BIGINT) AS bpe_ish_tokens
        FROM documents
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (letter runs / single digits / single punctuation) — the
    pre-tokenization count a data pipeline budgets corpora with."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
        .cast("long")
        .alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"))
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@register(
    "tfidf_top_terms",
    ops=("N2", "A1", "J1", "W2", "O2"),
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, UNNEST({_SQL_TOKS}) AS term FROM documents
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
        ), df AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT COUNT(*) AS n FROM documents
        ), scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE) AS salience
            FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, salience, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY salience DESC, term) AS rn FROM scored)
        WHERE rn <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 salient terms per document by tf x (N/df) — TF-IDF with a
    rational inverse-document-frequency instead of log(N/df): log is
    monotone, so the ranking is identical, and the score stays an
    integer ratio (exact across engines; libm log differs in last
    ulps). The keyword-extraction feature of a corpus indexer.

    Scale: tf is one shuffle on (doc, term); df reuses that output with
    a map-side-combined shuffle on term; the corpus size joins back as
    a broadcast scalar. Stop-word-heavy df skew is capped because df
    rows are one per term, not per occurrence.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n")).cast("double") / F.col("df").cast("double")).alias(
                "salience"
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("salience").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "df", "salience", "rank")
    )


@register(
    "doc_fingerprint",
    ops=(),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), hashed AS (
            SELECT doc_id,
                   list_transform(t, x -> {sql_portable_hash31('x')}) AS ht,
                   len(t) AS n
            FROM toks
        )
        SELECT doc_id,
               CASE WHEN n = 0 THEN 0
                    ELSE list_reduce(ht, (a, b) -> (a * 31 + b) % {HASH_P})
               END AS fingerprint
        FROM hashed
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (polynomial
    fold over token hashes) — detects exact token-sequence reuse;
    complements order-insensitive SimHash."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select("doc_id", rolling_fingerprint("text").alias("fingerprint"))


_SQL_UNITS = f"list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {FIXED_SCALE}, 0) AS BIGINT))"


@register(
    "embedding_cosine_topk",
    ops=("J2", "W2", "O2"),
    oracle=f"""
        WITH n AS (
            SELECT vec_id, {_SQL_UNITS} AS units,
                   CAST(list_sum(list_transform(list_zip({_SQL_UNITS}, {_SQL_UNITS}),
                        z -> z[1] * z[2])) AS BIGINT) AS norm2
            FROM embeddings
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(list_sum(list_transform(list_zip(a.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS dot,
                   a.norm2 AS na, b.norm2 AS nb
            FROM n a JOIN n b ON a.vec_id <> b.vec_id
        ), cos AS (
            SELECT id_a, id_b,
                   CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
            FROM pairs
        )
        SELECT id_a, id_b, cosine, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rn FROM cos)
        WHERE rn <= 5
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column — the exact
    ANN baseline/verifier, block-partitioned (topk_cosine_blocked):
    B^2 cogroup tasks each matmul one block pair in exact int64, then
    a window re-ranks the partials. Same answers as the naive cross
    join (the oracle); O(n^2) work spread over independent vectorized
    tasks. The quantized scale path is embedding_ann_ivf."""
    return topk_cosine_blocked(load(spark, sf_dir, "embeddings"), k=5)


_SQL_VEC_HASH = sql_portable_hash31("CAST(vec_id AS VARCHAR)")

#: Target quantizer-cell size: the cell COUNT scales with the corpus
#: (GREATEST(K_CELLS, n // target)), so within-cell pair work stays
#: O(n * target) — LINEAR in corpus size — instead of the quadratic
#: every fixed-cell-count form grows into (the decade sweep measured
#: 12-27x per 10x rows before this). K_CELLS remains the floor, so at
#: the sf0.001/0.01/0.1 gate sizes (<= 2000 vectors) the cell count —
#: and every hash-gated result — is IDENTICAL to the old pinned form;
#: only true scale runs spread into more cells. Both engines compute
#: the same integer: Spark from count(), the oracle from the scalar
#: subquery in its seed LIMIT.
ADAPT_CELL_TARGET = 500
_SQL_K_ADAPT = (
    f"(SELECT GREATEST({K_CELLS}, COUNT(*) // {ADAPT_CELL_TARGET}) FROM embeddings)"
)
# sample scales with the cell count (identity below ~1M vectors — see
# the KMEANS_SAMPLE scale note) so cells never cap at the sample size.
_SQL_SAMPLE_ADAPT = f"GREATEST({KMEANS_SAMPLE}, 2 * {_SQL_K_ADAPT})"
_SQL_KMEANS = sql_kmeans_ctes(
    _SQL_UNITS,
    _SQL_VEC_HASH,
    k=_SQL_K_ADAPT,
    iters=KMEANS_ITERS,
    sample=_SQL_SAMPLE_ADAPT,
)


def kmeans_units_corpus(emb, sf_dir: str | None = None):
    """``kmeans_units`` at the corpus-scaled cell count — the Spark
    twin of ``_SQL_KMEANS``'s seed-LIMIT subquery.

    When ``sf_dir`` is given the scalar ``n`` comes from parquet
    footer metadata (catalog.table_rows — a driver-side O(files) read,
    no Spark job); measured 17% off embedding_ann_ivf's bench time,
    since the count job re-ran on every invocation. Valid because
    every registered caller passes the RAW embeddings table; a filtered
    frame must omit sf_dir to fall back to the exact ``count()``.
    Either path computes the identical integer, so cell counts — and
    every hash-gated result — are unchanged."""
    n = table_rows(sf_dir, "embeddings") if sf_dir is not None else None
    if n is None:
        n = emb.count()
    k = max(K_CELLS, n // ADAPT_CELL_TARGET)
    return kmeans_units(emb, k=k, sample=max(KMEANS_SAMPLE, 2 * k))


@register(
    "embedding_ann_ivf",
    ops=("J2", "W2", "O2"),
    bench=True,
    oracle=f"""
        WITH {_SQL_KMEANS}, pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(a.cell AS INT) AS cell,
                   CAST(list_sum(list_transform(list_zip(a.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS dot,
                   a.norm2 AS na, b.norm2 AS nb
            FROM kassign a JOIN kassign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), cos AS (
            SELECT id_a, id_b, cell,
                   CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
            FROM pairs
        )
        SELECT id_a, id_b, cosine, CAST(rn AS INT) AS rank, cell
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rn FROM cos)
        WHERE rn <= 5
    """,
)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a real coarse quantizer: deterministic k-means
    (kmeans_units — md5-seeded, integer centroids, every step
    integer/IEEE-exact, so the DuckDB oracle replays the training run
    bit-for-bit) assigns each vector its nearest-centroid cell; top-k
    search runs within-cell only — one shuffle on the cell key,
    O(sum cell^2), the 100 TB-viable plan. Search is a per-cell int64
    numpy matmul (topk_units_cells_pandas). Single-probe recall and
    the multi-probe dial are characterized in tests/test_ann_recall.py
    (testdata embeddings are isotropic random, so recall ~ scanned
    fraction; the >=0.8 operating point is embedding_ann_multiprobe).
    Quantizer scale path: train on a sample, broadcast k*dim integer
    centroids, one streaming assignment pass over the corpus."""
    assigned, _ = kmeans_units_corpus(load(spark, sf_dir, "embeddings"), sf_dir)
    return topk_units_cells_pandas(assigned, k=5)


@register(
    "embedding_ann_hier",
    ops=("J2", "W2", "O2"),
    oracle=f"""
        WITH {sql_hier_ctes(_SQL_UNITS, _SQL_VEC_HASH, k=_SQL_K_ADAPT)}, pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(a.cell AS INT) AS cell,
                   CAST(list_sum(list_transform(list_zip(a.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS dot,
                   a.norm2 AS na, b.norm2 AS nb
            FROM hassign a JOIN hassign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), cos AS (
            SELECT id_a, id_b, cell,
                   CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
            FROM pairs
        )
        SELECT id_a, id_b, cosine, CAST(rn AS INT) AS rank, cell
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rn FROM cos)
        WHERE rn <= 5
    """,
)
def embedding_ann_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN behind a TWO-LEVEL coarse quantizer (llmops/hier.py) —
    the linear-at-build routing path SCALE.md's embedding decade names
    as the deployment answer to flat IVF's O(n*k) assignment: each
    vector visits ~sqrt(k) parents then one parent's children instead
    of all k cells, so index build flops drop ~50x at k=10k while the
    search stage (within-cell exact top-k, topk_units_cells_pandas)
    is byte-identical to embedding_ann_ivf's. Routing is the
    seed-quantizer variant — deterministic hash-ordered seeds, exact
    int64 distances, lowest-id ties — so the DuckDB oracle replays
    BOTH routing levels and the search hash-exactly. Cell membership
    is approximate by design (a vector may land in a near-optimal
    child — the trade every production coarse tree makes); the flat
    exact-argmin quantizer remains embedding_ann_ivf.

    Scale: the seed collect is k rows (bounded metadata); routing is
    one shuffle-free mapInPandas pass with sqrt(k)-sized chunked
    temporaries; the search keeps the single cell-keyed exchange."""
    from martian_moments_spark.llmops.hier import hier_route_units

    emb = load(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")
    if n is None:
        n = emb.count()
    k = max(K_CELLS, n // ADAPT_CELL_TARGET)
    assigned, _, _ = hier_route_units(emb, k=k)
    return topk_units_cells_pandas(assigned, k=5)


#: Hier probe count — the two-level quantizer's stated operating
#: point, matching the flat path's N_PROBE=3 (recall@5 >= 0.8 on
#: isotropic testdata, pinned in tests/test_ann_recall.py).
HIER_N_PROBE = 3

_SQL_HIER_DIST = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
)


@register(
    "embedding_ann_hier_probed",
    ops=("J2", "W2", "O2", "N3"),
    oracle=f"""
        WITH {sql_hier_ctes(_SQL_UNITS, _SQL_VEC_HASH, k=_SQL_K_ADAPT)}, hp1 AS (
            SELECT vec_id, parent FROM (
                SELECT v.vec_id, p.parent,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {_SQL_HIER_DIST.format(a="v.units", b="p.units")}, p.parent) AS rn
                FROM hunits v
                CROSS JOIN (SELECT hp.parent, hp.units FROM hparents hp
                            JOIN hlive USING (parent)) p
            ) WHERE rn <= {HIER_N_PROBE}
        ), hprobe AS (
            SELECT vec_id, cell FROM (
                SELECT q.vec_id, s.child AS cell,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY {_SQL_HIER_DIST.format(a="q.units", b="s.units")}, s.child) AS rn
                FROM hunits q
                JOIN hp1 ON hp1.vec_id = q.vec_id
                JOIN hcp ON hcp.parent = hp1.parent
                JOIN hseeds s ON s.child = hcp.child
            ) WHERE rn <= {HIER_N_PROBE}
        ), pairs AS (
            SELECT q.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(list_sum(list_transform(list_zip(q.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS dot,
                   q.norm2 AS na, b.norm2 AS nb
            FROM hunits q
            JOIN hprobe p ON p.vec_id = q.vec_id
            JOIN hassign b ON b.cell = p.cell AND b.vec_id <> q.vec_id
        ), cos AS (
            SELECT id_a, id_b,
                   CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
            FROM pairs
        )
        SELECT id_a, id_b, cosine, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rn FROM cos)
        WHERE rn <= 5
    """,
)
def embedding_ann_hier_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN through the TWO-LEVEL quantizer (the IMI probe
    dial, llmops/hier.py:hier_probe_route_units): each vector visits
    its HIER_N_PROBE nearest parents, probes the HIER_N_PROBE nearest
    child cells among their children, and searches those cells with
    the flat path's cogrouped kernel (topk_units_probed) unchanged —
    recall climbs from the single-cell floor (~0.4 at sf0.001) to the
    >= 0.8 operating point while the build stays linear. Routing is
    deterministic at every step (hash-ordered seeds, exact int64
    distances, lowest-id ties at both levels), so the DuckDB oracle
    replays parent ranking, child probing, and the search hash-
    exactly. A child belongs to exactly ONE parent (hcp is an argmin),
    so the probed-cell union needs no dedup on either engine.

    Scale: one bounded k-row seed collect, a shuffle-free routing
    pass with sqrt(k)-sized temporaries, then the probe path's two
    cell-keyed exchanges; search work is the probed-cell mass —
    n_probe/k of brute force, dialable per query."""
    from martian_moments_spark.llmops.hier import (
        hier_probe_route_units,
        hier_route_units,
    )

    emb = load(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")
    if n is None:
        n = emb.count()
    k = max(K_CELLS, n // ADAPT_CELL_TARGET)
    probed, _, _ = hier_probe_route_units(emb, k=k, n_probe=HIER_N_PROBE)
    assigned, _, _ = hier_route_units(emb, k=k)
    return topk_units_probed(probed, assigned, k=5)


from martian_moments_spark.llmops.dedup import (  # noqa: E402
    SA_MIN_SHARED,
    SA_SHARD_FLOOR,
    SA_SHARD_TARGET,
)

_SQL_SA_SHARD = sql_portable_hash31("'sa:' || CAST(doc_id AS VARCHAR)")
_SQL_SA_MOD = (
    f"(SELECT GREATEST({SA_SHARD_FLOOR}, COUNT(*) // {SA_SHARD_TARGET}) FROM documents)"
)


@register(
    "exact_substring_spans",
    ops=("J2", "W1", "O1", "A4"),
    oracle=f"""
        WITH shard AS (
            SELECT doc_id, text FROM documents
            WHERE {_SQL_SA_SHARD} % {_SQL_SA_MOD} = 0
        ), suf AS (
            SELECT doc_id, i, substr(text, CAST(i AS INT)) AS s
            FROM (SELECT doc_id, text, UNNEST(range(1, length(text) + 1)) AS i
                  FROM shard)
        ), sa AS (
            SELECT doc_id,
                   LAG(doc_id) OVER w AS pdoc,
                   s, LAG(s) OVER w AS ps
            FROM suf WINDOW w AS (ORDER BY s, doc_id, i)
        ), lcps AS (
            SELECT doc_id, pdoc,
                   COALESCE(list_min(list_filter(
                       range(1, LEAST(length(s), length(ps)) + 1),
                       i -> substr(s, CAST(i AS INT), 1) <> substr(ps, CAST(i AS INT), 1))),
                       LEAST(length(s), length(ps)) + 1) - 1 AS lcp
            FROM sa WHERE ps IS NOT NULL AND doc_id <> pdoc
        ), per AS (
            SELECT doc_id, MAX(lcp) AS m FROM (
                SELECT doc_id, lcp FROM lcps
                UNION ALL
                SELECT pdoc AS doc_id, lcp FROM lcps
            ) GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS n_chars,
               CAST(COALESCE(p.m, 0) AS BIGINT) AS longest_shared_len,
               COALESCE(p.m, 0) < {SA_MIN_SHARED} AS keep
        FROM shard d LEFT JOIN per p USING (doc_id)
    """,
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring cross-document dedup via a distributed SUFFIX
    ARRAY (Lee et al. 2022's actual construction — the signal
    cross_doc_ngram_spans and repeated_char_spans approximate at gram
    granularity): per shard document, the length of the longest byte
    run shared verbatim with any OTHER shard document, and the keep
    verdict at SA_MIN_SHARED chars. The suffix array is built by
    prefix doubling (llmops/dedup.py:suffix_array_ranks — log2(max
    doc length) rounds of one co-partitioned self-join plus a dense
    re-rank); the per-doc max is read off ADJACENT cross-doc pair
    LCPs, which provably equals the max over all pairs and is
    invariant to how byte-identical suffixes tie-order — the fairness
    condition for hashing against DuckDB's own ORDER BY substr sort
    (exact_substring_shared's docstring carries the proof sketch).

    The oracle is the NAIVE suffix sort (materialize every suffix
    string, ORDER BY) — O(n^2 log n) bytes compared vs the engine's
    O(n log n) ranks; both produce the identical per-doc answer,
    which is the point: same semantics, cluster-viable construction.

    Scale: shard-bounded by design — the shard modulus scales with
    the corpus (GREATEST(floor, n_docs // SA_SHARD_TARGET), the
    ADAPT_CELL_TARGET pattern, both engines computing the same
    integer), so ONE shard stays ~{SA_SHARD_TARGET} docs at any
    corpus size; the Lee et al. recipe runs n_docs/target such shards
    and unions verdicts. Within a shard: ~9 doubling rounds at
    300-char docs, each one shifted-key equi-join (co-partitioned on
    doc_id) + one dense rank whose single task is bounded by the
    FIXED shard size (swap in the two-phase range rank of
    global_rank_range_partitioned to lift even that)."""
    from martian_moments_spark.llmops.dedup import (
        exact_substring_shared,
        sa_shard_mod,
    )
    from martian_moments_spark.llmops.textops import portable_hash31 as _h31

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n = table_rows(sf_dir, "documents")
    if n is None:
        n = docs.count()
    mod = sa_shard_mod(n)
    shard = docs.filter(
        _h31(F.concat(F.lit("sa:"), F.col("doc_id").cast("string"))) % mod == 0
    )
    return exact_substring_shared(shard, min_shared=SA_MIN_SHARED)


def _lsh_candidate_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard for each MinHash+LSH candidate pair:
    ``(id_a, id_b, jaccard)``, unthresholded — the shared verify seam
    ``ngram_jaccard_pairs`` exposes and ``_lsh_verified_pairs`` filters.
    Oracle twin: ``_SQL_LSH_CAND`` + the jaccard projection."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cand = minhash_lsh_candidates(spark, sf_dir)
    dtoks = docs.select(
        "doc_id",
        F.array_distinct(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("tk"),
    )
    ta = dtoks.select(
        F.col("doc_id").alias("id_a"),
        F.col("tk").alias("tk_a"),
        F.size("tk").alias("n_a"),
    )
    tb = dtoks.select(
        F.col("doc_id").alias("id_b"),
        F.col("tk").alias("tk_b"),
        F.size("tk").alias("n_b"),
    )
    inter = F.size(F.array_intersect("tk_a", "tk_b")).cast("double")
    # |A∪B| = |A|+|B|−|A∩B| over distinct arrays — same exact value,
    # no per-pair union array (same identity as dedup.jaccard_pairs)
    union = (F.col("n_a") + F.col("n_b")).cast("double") - inter
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
        )
    )


def _lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's canonical near-duplicate edge set: MinHash+LSH band
    collisions exact-verified at token-set Jaccard >= FUZZY_TAU.
    O(band collisions) pairs, never all-pairs — the deployment shape
    every pair-consuming dedup query composes on. The oracle twin is
    ``_SQL_LSH_PAIRS`` (the identical deterministic minhash replayed in
    SQL, so parity holds even where LSH recall < 1)."""
    return (
        _lsh_candidate_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= F.lit(FUZZY_TAU))
        .select("id_a", "id_b")
    )


@register(
    "dedup_connected_components",
    ops=("J2", "A6"),
    oracle=f"""
        WITH RECURSIVE {_SQL_LSH_PAIRS}, edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ), reach(u, v) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.u, e.dst FROM reach r JOIN edges e ON r.v = e.src
        )
        SELECT u AS doc_id, MIN(v) AS component_id
        FROM reach GROUP BY u
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup closure: near-dup candidate pairs from
    MinHash+LSH band collisions, exact-verified at token-set Jaccard
    >= FUZZY_TAU, clustered into connected components — each document
    labeled with its component's minimum id. Near-dup similarity is
    not transitive — A~B, B~C without A~C — so corpus dedup needs the
    closure, not pairwise decisions.

    Edge generation is the LSH candidate graph (the deployment shape:
    O(band collisions), never all-pairs — an earlier version verified
    every pair inside a source block, which the decade-scale smoke
    measured at 13.9x per 10x rows, quadratic by construction). The
    minhash is engine-deterministic, so the DuckDB oracle replays the
    identical candidate set and the comparison stays exact even where
    LSH recall < 1: both sides see the same graph.

    The one iterative-algorithm query in the engine: distributed
    min-label propagation to fixpoint (llmops/dedup.py
    connected_components), one shuffle per round; the oracle states
    the same fixpoint declaratively as a recursive CTE. Both converge
    to the unique component minimum, so the comparison is exact
    despite entirely different execution.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return connected_components(docs, _lsh_verified_pairs(spark, sf_dir))


@register(
    "fuzzy_dedup_pipeline",
    ops=("J2", "J3", "A6"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), sh AS (
            SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks
        ), mh AS (
            SELECT doc_id,
            {_sql_minhash_cols()}
            FROM sh
        ), bands AS (
            SELECT doc_id, 0 AS band_idx,
                   ((0 * 1000003 + COALESCE(mh_0, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_1, 0) % 1000003) % {HASH_P} AS band_val FROM mh
            UNION ALL
            SELECT doc_id, 1,
                   ((0 * 1000003 + COALESCE(mh_2, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_3, 0) % 1000003) % {HASH_P} FROM mh
            UNION ALL
            SELECT doc_id, 2,
                   ((0 * 1000003 + COALESCE(mh_4, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_5, 0) % 1000003) % {HASH_P} FROM mh
            UNION ALL
            SELECT doc_id, 3,
                   ((0 * 1000003 + COALESCE(mh_6, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_7, 0) % 1000003) % {HASH_P} FROM mh
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ), dtoks AS (
            SELECT doc_id, list_distinct({_SQL_TOKS}) AS tk FROM documents
        ), verified AS (
            SELECT c.id_a, c.id_b
            FROM cand c
            JOIN dtoks ta ON ta.doc_id = c.id_a
            JOIN dtoks tb ON tb.doc_id = c.id_b
            WHERE len(list_distinct(list_concat(ta.tk, tb.tk))) > 0
              AND CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(ta.tk, tb.tk))) AS DOUBLE)
                  >= {FUZZY_TAU}
        ), dup AS (
            SELECT id_b AS doc_id, MIN(id_a) AS dup_of FROM verified GROUP BY id_b
        )
        SELECT d.doc_id, p.dup_of, p.dup_of IS NULL AS is_kept
        FROM documents d LEFT JOIN dup p ON d.doc_id = p.doc_id
    """,
)
def fuzzy_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical web-scale fuzzy-dedup pipeline, end to end:
    MinHash+LSH candidate generation -> exact token-set Jaccard
    verification at FUZZY_TAU -> greedy keep-lowest-id decision,
    emitted for every document.

    Scale: this is why LSH exists — the expensive Jaccard verifier
    runs only on O(band collisions) pairs, never the n^2 cross
    product; the verify join ships each document's token set to its
    candidate pairs only. The decision stage is a MIN per duplicate +
    one left join back (no global structure, unlike full
    connected-components transitive closure — the standard greedy
    approximation, deliberately chosen for shuffle-boundedness).
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cand = minhash_lsh_candidates(spark, sf_dir)
    dtoks = docs.select(
        "doc_id",
        F.array_distinct(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("tk"),
    )
    ta = dtoks.select(
        F.col("doc_id").alias("id_a"),
        F.col("tk").alias("tk_a"),
        F.size("tk").alias("n_a"),
    )
    tb = dtoks.select(
        F.col("doc_id").alias("id_b"),
        F.col("tk").alias("tk_b"),
        F.size("tk").alias("n_b"),
    )
    inter = F.size(F.array_intersect("tk_a", "tk_b")).cast("double")
    # |A∪B| identity — same exact value, no per-pair union array
    union = (F.col("n_a") + F.col("n_b")).cast("double") - inter
    verified = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter((union > 0) & (inter / union >= F.lit(FUZZY_TAU)))
    )
    dup = verified.groupBy(F.col("id_b").alias("doc_id")).agg(F.min("id_a").alias("dup_of"))
    return (
        docs.select("doc_id")
        .join(dup, "doc_id", "left")
        .select("doc_id", "dup_of", F.col("dup_of").isNull().alias("is_kept"))
    )


@register(
    "embedding_ann_multiprobe",
    ops=("J2", "W2", "O2", "N3"),
    oracle=f"""
        WITH {_SQL_KMEANS}, kprobe AS (
            SELECT vec_id, cell FROM (
                SELECT v.vec_id, c.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY CAST(list_sum(list_transform(list_zip(v.units, c.c),
                                     z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT), c.cell
                       ) AS rn
                FROM kunits v CROSS JOIN kcents c
            ) WHERE rn <= {N_PROBE}
        ), pairs AS (
            SELECT q.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(list_sum(list_transform(list_zip(q.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS dot,
                   q.norm2 AS na, b.norm2 AS nb
            FROM kunits q
            JOIN kprobe p ON p.vec_id = q.vec_id
            JOIN kassign b ON b.cell = p.cell AND b.vec_id <> q.vec_id
        ), cos AS (
            SELECT id_a, id_b,
                   CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
            FROM pairs
        )
        SELECT id_a, id_b, cosine, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rn FROM cos)
        WHERE rn <= 5
    """,
)
def embedding_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN over the k-means quantizer: each query
    searches the N_PROBE cells whose centroids are nearest it (its own
    cell is rank 1 by construction) — the recall/latency dial between
    single-probe IVF and brute force. This is the engine's stated
    operating point: recall@5 >= 0.8 at N_PROBE=3 of K_CELLS=4 on the
    isotropic testdata (tests/test_ann_recall.py pins it).

    Probe replication keeps the search a pure equi-join on the cell
    key — queries replicate N_PROBE x into (probe_cell) rows, cogroup
    against the candidates assigned to that cell, one exact int64
    matmul per cell, then a window re-ranks the per-cell partial
    top-k. Work is O(sum over probed cells of |cell| per query) —
    N_PROBE/K_CELLS of brute force, dialable."""
    assigned, cents = kmeans_units_corpus(load(spark, sf_dir, "embeddings"), sf_dir)
    probed = probe_cells(assigned, cents, n_probe=N_PROBE)
    return topk_units_probed(probed, assigned, k=5)


@register(
    "multimodal_metadata",
    ops=("P8", "N5"),
    oracle="""
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS byte_length,
               CAST(doc_id % 1920 + 1 AS INT) AS width,
               CAST(doc_id % 1080 + 1 AS INT) AS height
        FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column construction: opaque binary payload + typed
    metadata struct, with media-type routing. Metadata-only projection
    — the binary column is pruned at the scan (verify via ReadSchema in
    .explain)."""
    from martian_moments_spark.llmops.multimodal import attach_fake_payload

    docs = attach_fake_payload(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select(
        "doc_id",
        F.col("meta.media_type").alias("media_type"),
        F.length("payload").cast("long").alias("byte_length"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


@register(
    "multimodal_feature_extract",
    ops=(),
    oracle=f"""
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS byte_length,
               {sql_portable_hash31('text')} AS checksum_md5,
               CAST(doc_id % 1920 + 1 AS INT) AS width,
               CAST(doc_id % 1080 + 1 AS INT) AS height,
               CAST(doc_id % 24 + 1 AS INT) AS n_frames
        FROM documents
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary
    payloads (decode stub: byte length + md5-derived checksum +
    metadata passthrough). The one deliberately-Python stage in the
    engine — the seam where a real image/audio decoder plugs in — and
    still oracle-EXACT: the checksum is the engine's portable 31-bit
    md5 hash over the payload bytes, which DuckDB reproduces on the
    same utf-8 text, so even the Python stage's output is verified
    value-for-value, not just row-counted."""
    from martian_moments_spark.llmops.multimodal import attach_fake_payload, extract_features

    docs = attach_fake_payload(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return extract_features(docs)


@register(
    "multimodal_frame_sample",
    ops=("N3", "F9"),
    oracle="""
        SELECT doc_id,
               UNNEST(generate_series(0, CAST(doc_id % 24 AS BIGINT), 6)) AS frame_index
        FROM documents
        WHERE doc_id % 3 = 2
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: every-6th frame index per video
    payload (frame decode itself is the stub). JVM-side sequence +
    explode — one output row per sampled frame."""
    from martian_moments_spark.llmops.multimodal import attach_fake_payload, frame_sample

    docs = attach_fake_payload(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return frame_sample(docs).select("doc_id", F.col("frame_index").cast("long"))


@register(
    "multimodal_real_decode",
    ops=("P3", "A1"),
    oracle=f"""
        WITH px AS (
            SELECT doc_id,
                   list_transform(range(1, {8 * 8 + 1}),
                                  i -> ord(substr(text, CAST(i AS INT), 1))) AS p,
                   substr(text, 1, {8 * 8}) AS s
            FROM documents
            WHERE length(text) >= {8 * 8}
              AND octet_length(encode(text)) = length(text)
        )
        SELECT doc_id,
               CAST(8 AS INT) AS width,
               CAST(8 AS INT) AS height,
               CAST(255 AS INT) AS maxval,
               CAST({8 * 8} AS BIGINT) AS n_pixels,
               CAST(list_sum(p) AS BIGINT) AS pixel_sum,
               CAST(list_min(p) AS INT) AS pixel_min,
               CAST(list_max(p) AS INT) AS pixel_max,
               {sql_portable_hash31("s")} AS pixel_checksum
        FROM px
    """,
)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL multimodal decode path (VERDICT r07 Next-round #2): a
    genuine binary PGM (P5) image per document — header + raw pixel
    block built JVM-side from the doc's first 64 ASCII bytes — decoded
    on executors by the pure-numpy P5 parser (llmops.multimodal.
    decode_pgm: header tokenizer, zero-copy uint8 pixel view), with
    integer pixel statistics and the portable md5 checksum over the
    DECODED pixel bytes. No fake features anywhere in this plan: if
    the parser mis-read the header or sliced the pixel block wrong,
    every stat and the checksum would diverge from the oracle, which
    recomputes them from the same characters (ord == byte value is
    guaranteed by the ASCII eligibility predicate — octet length ==
    char length). Every image format the engine emits now decodes
    for real (PGM here, PNG/JPEG below) — the NotImplementedError
    capability hook is closed as of r11.

    Scale: encode is per-row JVM concat; decode is Arrow-batched
    mapInPandas over the scan partitioning — payload bytes never ride
    a shuffle; output is metadata-width."""
    from martian_moments_spark.llmops.multimodal import encode_pgm, pgm_features

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return pgm_features(encode_pgm(docs))


@register(
    "multimodal_png_decode",
    ops=("P3", "A1"),
    oracle=f"""
        WITH px AS (
            SELECT doc_id,
                   list_transform(range(1, {8 * 8 + 1}),
                                  i -> ord(substr(text, CAST(i AS INT), 1))) AS p,
                   substr(text, 1, {8 * 8}) AS s
            FROM documents
            WHERE length(text) >= {8 * 8}
              AND octet_length(encode(text)) = length(text)
        )
        SELECT doc_id,
               CAST(8 AS INT) AS width,
               CAST(8 AS INT) AS height,
               CAST(8 AS INT) AS bit_depth,
               CAST({8 * 8} AS BIGINT) AS n_pixels,
               CAST(list_sum(p) AS BIGINT) AS pixel_sum,
               CAST(list_min(p) AS INT) AS pixel_min,
               CAST(list_max(p) AS INT) AS pixel_max,
               {sql_portable_hash31("s")} AS pixel_checksum
        FROM px
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL PNG codec path (VERDICT r09 Next-round #7): each
    document's first 64 ASCII bytes become a genuine grayscale 8-bit
    PNG — zlib-compressed IDAT with the scanline filter type CYCLING
    through all five per row (None/Sub/Up/Average/Paeth) — then
    executors decode it back through the pure-zlib codec
    (llmops.multimodal.decode_png: CRC-verified chunk walk, inflate,
    full unfiltering) and emit integer pixel stats plus the portable
    md5 checksum over the DECODED pixel bytes. The oracle recomputes
    the stats from the same characters, so the gate proves
    encoder -> DEFLATE -> decoder is the identity on pixels; a decoder
    that faked any filter arm, skipped CRC-correct chunk framing, or
    mis-sliced the scanline stream would diverge on every stat.
    PIL is absent from this container — PNG needs only zlib (stdlib),
    which is why this format graduated first from the (since-closed)
    NotImplementedError hook; baseline JPEG followed in r11 via the
    pure-numpy entropy decoder (multimodal_jpeg_decode).

    Scale: encode and decode are Arrow-batched mapInPandas over the
    scan partitioning — payload bytes never ride a shuffle; output is
    metadata-width."""
    from martian_moments_spark.llmops.multimodal import encode_png, png_features

    # The pure-zlib decode is the CPU and the one-split gate-scale scan
    # gave it ONE Arrow task (r11 profile: 1.3 s single-task); spread
    # the narrow doc rows first — identity at real scale, where the
    # scan partitioning itself carries the parallelism and payload
    # bytes never ride a shuffle.
    docs = spread(
        load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    return png_features(encode_png(docs))


_JPEG_SCANLINE_TOP = " || ".join(
    f"repeat(substr(text, {c}, 1), 8)" for c in range(1, 5)
)
_JPEG_SCANLINE_BOT = " || ".join(
    f"repeat(substr(text, {c}, 1), 8)" for c in range(5, 9)
)


@register(
    "multimodal_jpeg_decode",
    ops=("P3", "A1"),
    oracle=f"""
        WITH px AS (
            SELECT doc_id,
                   list_transform(range(1, 9),
                                  i -> ord(substr(text, CAST(i AS INT), 1))) AS p,
                   repeat({_JPEG_SCANLINE_TOP}, 8)
                   || repeat({_JPEG_SCANLINE_BOT}, 8) AS s
            FROM documents
            WHERE length(text) >= 8
              AND octet_length(encode(text)) = length(text)
        )
        SELECT doc_id,
               CAST(32 AS INT) AS width,
               CAST(16 AS INT) AS height,
               CAST(8 AS INT) AS n_blocks,
               CAST(64 * list_sum(p) AS BIGINT) AS pixel_sum,
               CAST(list_min(p) AS INT) AS pixel_min,
               CAST(list_max(p) AS INT) AS pixel_max,
               {sql_portable_hash31("s")} AS pixel_checksum
        FROM px
    """,
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An ENTROPY-CODED codec path decoded for real (VERDICT r10
    Next-round #6): each document's first 8 ASCII bytes become one
    constant 8x8 block each of a genuine baseline-DCT grayscale JPEG —
    SOI/APP0/DQT/SOF0/DHT/SOS framing, Annex-K canonical huffman
    tables, DC-delta entropy coding with byte stuffing — then
    executors decode it back through the pure-numpy baseline decoder
    (llmops.multimodal.decode_jpeg: marker walk, canonical huffman
    reconstruction, 0xFF00 unstuffing, EXTEND, dequantize, de-zigzag,
    float IDCT) and emit integer pixel stats plus the portable md5
    checksum over the DECODED raster bytes. Baseline JPEG is lossy in
    general, so the gate fixture lives on the family where it is
    provably exact: constant blocks have a single DC coefficient
    8*(v-128), and the fixture quant table pins the DC step to 8 —
    any error in the huffman tables, bit order, predictor, stuffing,
    or IDCT normalization shifts whole blocks and breaks every stat.
    The general AC path (runs, ZRL, negative amplitudes) is pinned by
    tests/test_llmops.py under the lossy error bound.

    Scale: encode and decode are Arrow-batched mapInPandas over the
    scan partitioning — payload bytes never ride a shuffle; output is
    metadata-width."""
    from martian_moments_spark.llmops.multimodal import encode_jpeg, jpeg_features

    # The pure-numpy huffman+IDCT decode is the CPU and ran in ONE
    # Arrow task at gate scale (r11 profile: 4.1 s single-task);
    # spread the narrow doc rows first — identity at real scale (see
    # multimodal_png_decode).
    docs = spread(
        load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    return jpeg_features(encode_jpeg(docs))



@register(
    "multimodal_wav_decode",
    ops=("P3", "A1"),
    oracle=f"""
        WITH smp AS (
            SELECT doc_id,
                   list_transform(range(1, {64 + 1}),
                                  i -> ord(substr(text, CAST(i AS INT), 1))) AS p,
                   substr(text, 1, 64) AS s
            FROM documents
            WHERE length(text) >= 64
              AND octet_length(encode(text)) = length(text)
        )
        SELECT doc_id,
               CAST(8000 AS INT) AS sample_rate,
               CAST(64 AS BIGINT) AS n_samples,
               CAST(64 * 1000 // 8000 AS BIGINT) AS duration_ms,
               CAST(list_sum(p) AS BIGINT) AS amp_sum,
               CAST(list_min(p) AS INT) AS amp_min,
               CAST(list_max(p) AS INT) AS amp_max,
               {sql_portable_hash31("s")} AS sample_checksum
        FROM smp
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio twin of multimodal_real_decode: a genuine RIFF/WAVE
    PCM file per document (canonical 44-byte header + 64 8-bit mono
    samples from the doc's first ASCII bytes), decoded on executors by
    the pure-numpy chunk-walking WAV parser (llmops.multimodal.
    decode_wav validates magics, walks the chunk list, checks
    PCM/mono/8-bit, zero-copy sample view), emitting integer amplitude
    statistics and the portable md5 checksum over the DECODED sample
    bytes. A header the parser mis-walked would shift the sample block
    and break every stat against the oracle.

    Scale: identical posture to multimodal_real_decode — per-row JVM
    payload concat, Arrow-batched mapInPandas decode over the scan
    partitioning, metadata-width output."""
    from martian_moments_spark.llmops.multimodal import encode_wav, wav_features

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return wav_features(encode_wav(docs))


# ------------------------------------------------------- pipeline hygiene ops

DECONTAM_BENCH_MOD = 37  # doc_id % MOD == 0 -> held-out benchmark doc
# Declared bound on the benchmark side that gets shingle-exploded and
# broadcast. The modulus stand-in grows with the corpus, but a real
# benchmark is a fixed external table; the guard makes the broadcast's
# boundedness structural — over the cap the plan fails loudly instead
# of flooding executors. Asserted on the DOC count (a column-pruned
# ~0.1 s job, vs ~0.5 s to count distinct shingles); the broadcast is
# then <= cap x per-doc distinct shingles, bounded by document length.
DECONTAM_BENCH_DOC_CAP = 100_000
DECONTAM_NGRAM = 4  # overlap unit: word 4-grams (bigrams match everything
# in a small-vocabulary corpus; real pipelines use 8-13-gram spans)


def _sql_shingles_n(n: int) -> str:
    joined = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return (
        f"list_transform(generate_series(1, greatest(len(t) - {n - 1}, 0)), "
        f"i -> {joined})"
    )


@register(
    "decontamination_overlap",
    ops=("J2", "J4", "A1", "A6"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform({_sql_shingles_n(DECONTAM_NGRAM)},
                       x -> {sql_portable_hash31('x')}))) AS sh
            FROM toks
        ), bench AS (
            SELECT DISTINCT sh FROM sh WHERE doc_id % {DECONTAM_BENCH_MOD} = 0
        ), ov AS (
            SELECT c.doc_id, COUNT(*) AS n
            FROM sh c JOIN bench b USING (sh)
            WHERE c.doc_id % {DECONTAM_BENCH_MOD} <> 0
            GROUP BY c.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(o.n, 0) AS BIGINT) AS n_overlapping,
               COALESCE(o.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN ov o ON d.doc_id = o.doc_id
        WHERE d.doc_id % {DECONTAM_BENCH_MOD} <> 0
    """,
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-set hygiene pass that
    flags corpus documents sharing any word 4-gram with a held-out
    benchmark set (here: doc_id % 37 == 0 stands in for the benchmark;
    in production it is a second table). Per-doc distinct shingles are
    hashed once; the overlap test is a pure equi-join against the
    (small, broadcastable) benchmark shingle set; count + left join
    back gives every corpus doc an exact overlap count.

    Scale: benchmark sets are tiny vs the corpus -> broadcast join, no
    shuffle of the corpus side beyond the per-doc explode; contaminated
    docs drop before training, counts keep the audit trail."""
    # the shingle-hash explode is derived twice (bench set + corpus
    # side) from the one-split scan at gate scale (r11 profile:
    # 0.56 s single-task stage); spread first — identity at real scale.
    docs = spread(
        load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    is_bench = F.col("doc_id") % DECONTAM_BENCH_MOD == 0
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(word_shingles("text", n=DECONTAM_NGRAM), portable_hash31)
            )
        ).alias("sh"),
    )
    # eager guard at plan-build time: the broadcast side below is the
    # shingle set of exactly these docs, so bounding the doc count
    # bounds the broadcast (<= cap x per-doc distinct shingles)
    assert_bounded(
        docs.filter(is_bench).select("doc_id"),
        DECONTAM_BENCH_DOC_CAP,
        "decontamination_overlap benchmark docs",
        once_key=sf_dir,
    )
    bench_sh = sh.filter(is_bench).select("sh").distinct()
    overlap = (
        sh.filter(~is_bench)
        .join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_overlapping"),
            (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
_PHONE_RE = "\\+[0-9]{8,15}"


@register(
    "pii_redaction",
    ops=("F1", "P8"),
    oracle=f"""
        WITH planted AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example now'
                           ELSE '' END
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' call +14155550123 today'
                           ELSE '' END AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
               regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS redacted_text
        FROM planted
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the pre-training scrub pass: count
    and mask email/phone shapes per document. The synthetic corpus
    carries no PII, so a deterministic plant (doc_id-derived contact
    lines on every 5th/3rd doc) supplies ground truth the oracle
    reproduces exactly; the regexes stay in the ANSI-safe subset both
    engines interpret identically.

    Scale: pure per-row JVM regex work — no shuffle, whole-stage
    codegen, linear in corpus bytes; redacted text replaces the
    original downstream, counts feed the audit mart."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" contact u"), F.col("doc_id").cast("string"), F.lit("@mail.example now")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" call +14155550123 today")).otherwise(
            F.lit("")
        ),
    )
    t = docs.withColumn("t", planted)
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("redacted_text"),
    )


REPETITION_TAU = 0.2  # max duplicate-bigram mass before a doc is dropped


@register(
    "repeated_ngram_ratio",
    ops=("A1", "P8"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), sh AS (
            SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks
        )
        SELECT doc_id,
               CAST(len(s) AS BIGINT) AS n_bigrams,
               CASE WHEN len(s) > 0
                    THEN CAST(len(s) - len(list_distinct(s)) AS DOUBLE)
                         / CAST(len(s) AS DOUBLE)
                    ELSE 0.0 END AS dup_bigram_ratio,
               CASE WHEN len(s) > 0
                    THEN (CAST(len(s) - len(list_distinct(s)) AS DOUBLE)
                          / CAST(len(s) AS DOUBLE)) <= {REPETITION_TAU}
                    ELSE TRUE END AS keep
        FROM sh
    """,
)
def repeated_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (the Gopher-rule family): the mass of
    duplicate word 2-grams per document — boilerplate and degenerate
    generations repeat n-grams far above natural text — with the
    keep/drop verdict at tau=0.2. Exact integer/integer double ratio,
    bit-identical cross-engine.

    Scale: per-row array arithmetic, no shuffle; composes with
    text_quality_scores into the corpus-curation gate."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    s = word_shingles("text")
    n = F.size(s).cast("long")
    ndup = (F.size(s) - F.size(F.array_distinct(s))).cast("long")
    ratio = F.when(n > 0, ndup.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n.alias("n_bigrams"),
        ratio.alias("dup_bigram_ratio"),
        F.when(n > 0, ratio <= REPETITION_TAU).otherwise(F.lit(True)).alias("keep"),
    )


PACK_BUDGET_TOKENS = 256


@register(
    "context_window_packing",
    ops=("W2", "A1", "F8"),
    oracle=f"""
        WITH toks AS (
            SELECT source, doc_id,
                   CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        ), cum AS (
            SELECT source, doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS start_offset
            FROM toks
        )
        SELECT source, doc_id, n_tokens, start_offset,
               CAST(start_offset // {PACK_BUDGET_TOKENS} AS BIGINT) AS chunk_id,
               CAST(start_offset % {PACK_BUDGET_TOKENS} AS BIGINT) AS chunk_offset
        FROM cum
    """,
)
def context_window_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing — the pretraining concat-then-chop
    layout: documents stream per source in deterministic (doc_id)
    order, token offsets accumulate, and each document is addressed by
    the fixed-budget chunk its first token lands in (chunk_id,
    chunk_offset). Integer window cumsum + DIV/mod — exact.

    Scale: one shuffle on source (the pack stream key); within-stream
    order is a window over the sort the shuffle already established.
    The concat boundary straddle is by design: pretraining packs
    contiguous token streams, documents cross chunk edges."""
    docs = load(spark, sf_dir, "documents").select("source", "doc_id", "text")
    n_tok = F.size(tokens("text")).cast("long")
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    cum = docs.select(
        "source", "doc_id", n_tok.alias("n_tokens")
    ).withColumn("start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"))
    return cum.select(
        "source",
        "doc_id",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset DIV {PACK_BUDGET_TOKENS}").cast("long").alias("chunk_id"),
        (F.col("start_offset") % PACK_BUDGET_TOKENS).cast("long").alias("chunk_offset"),
    )


CHUNK_SIZE = 200  # chars per training chunk
CHUNK_STRIDE = 160  # 40-char overlap between consecutive chunks


@register(
    "document_chunking",
    ops=("F9", "N2", "P1"),
    oracle=f"""
        SELECT d.doc_id,
               CAST((s.start - 1) / {CHUNK_STRIDE} AS INT) AS chunk_idx,
               substr(d.text, s.start, {CHUNK_SIZE}) AS chunk_text,
               CAST(length(substr(d.text, s.start, {CHUNK_SIZE})) AS BIGINT) AS chunk_len
        FROM documents d,
             LATERAL (SELECT unnest(generate_series(1, d.n_chars, {CHUNK_STRIDE})) AS start) s
    """,
)
def document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: every document becomes
    ceil(n_chars/stride) overlapping CHUNK_SIZE-char chunks — the
    context-window preprocessing step of a training pipeline (contrast
    context_window_packing, which packs WHOLE documents; this splits
    long ones). Pure per-row expansion: sequence() + explode generates
    start offsets 1, 1+stride, ... inside the row, substring slices
    JVM-side, and no shuffle exists anywhere in the plan — at 100 TB
    this runs at scan speed and parallelizes by input split.
    1-based offsets keep Spark's and DuckDB's substr semantics
    identical."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    out = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.col("n_chars"), F.lit(CHUNK_STRIDE))
        ).alias("start"),
        "text",
    )
    chunk = F.substring(F.col("text"), F.col("start"), CHUNK_SIZE)
    return out.select(
        "doc_id",
        (((F.col("start") - 1) / CHUNK_STRIDE).cast("int")).alias("chunk_idx"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("long").alias("chunk_len"),
    )


def _srp_bands_sql() -> str:
    from martian_moments_spark.llmops.similarity import SRP_BAND_BITS, SRP_BITS, sql_srp_band_expr

    n_bands = SRP_BITS // SRP_BAND_BITS
    return "\n            UNION ALL\n".join(
        f"            SELECT vec_id, units, norm2, {b} AS band_idx,"
        f" {sql_srp_band_expr('units', b)} AS band_val FROM n"
        for b in range(n_bands)
    )


@register(
    "embedding_srp_neardup",
    bench=True,
    ops=("J2", "A6", "P3"),
    oracle=f"""
        WITH n AS (
            SELECT vec_id, {_SQL_UNITS} AS units,
                   CAST(list_sum(list_transform(list_zip({_SQL_UNITS}, {_SQL_UNITS}),
                        z -> z[1] * z[2])) AS BIGINT) AS norm2
            FROM embeddings
        ), bands AS (
{{bands}}
        ), cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                   a.units AS units_a, b.units AS units_b,
                   a.norm2 AS norm2_a, b.norm2 AS norm2_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b,
               CAST(CAST(list_sum(list_transform(list_zip(units_a, units_b),
                    z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
                 / (sqrt(CAST(norm2_a AS DOUBLE)) * sqrt(CAST(norm2_b AS DOUBLE))) AS cosine,
               (CAST(CAST(list_sum(list_transform(list_zip(units_a, units_b),
                    z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
                 / (sqrt(CAST(norm2_a AS DOUBLE)) * sqrt(CAST(norm2_b AS DOUBLE)))) >= {{tau}} AS is_near_dup
        FROM cand
    """.replace("{bands}", _srp_bands_sql()).replace("{tau}", "0.30"),
)
def embedding_srp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate candidates by signed-random-projection
    LSH — the hash-family ANN path, complementing the quantizer family
    (embedding_ann_ivf): each vector gets SRP_BITS sign bits against
    md5-seeded ±1 hyperplanes, bits pack into SRP_BITS/SRP_BAND_BITS
    band values, vectors colliding in ANY band become candidates (an
    equi-join on (band_idx, band_val) — never all-pairs), and every
    candidate is verified with the exact fixed-point cosine.

    Operating point: the banding is sized for the NEAR-DUPLICATE
    regime — a cosine≥0.95 pair collides in ≥1 of the 4 8-bit bands
    w.p. ≈0.9 (pinned with planted duplicates in test_llmops), while
    random pairs collide at ~1.6%. The tau=0.30 flag labels unusually
    similar pairs AMONG collisions; far below the design point LSH
    samples collisions sparsely (recall at cosine~0.3 is ~6% — the
    fundamental banding trade, not a bug). Exhaustive
    moderate-similarity search is embedding_cosine_topk (exact) or the
    IVF family; this query exists for the high-similarity dedup cut.

    Scale: signature computation is per-row JVM lambda math; the only
    shuffle is the band-bucket equi-join whose cost is O(collisions),
    dialed by SRP_BAND_BITS exactly like LSH banding for MinHash. The
    oracle replays the identical hyperplanes (single weight source),
    so even the hash buckets match bit-for-bit."""
    from martian_moments_spark.llmops.similarity import (
        cosine_verify_pandas,
        srp_bands_pandas,
        with_units_and_norm,
    )

    # MEASURED REJECTION (r11): spreading this scan + repartitioning
    # `bands` on the band key looked like the profile's answer (every
    # stage <= 1 task) but benched 1.3 s -> 2.7-4.4 s. The Python-seam
    # stages here are LATENCY-bound, not compute-bound, at bench scale:
    # the 2000-vector band matmul is microseconds of numpy, so 32-way
    # spread just pays 32 Python-worker round-trips plus two extra
    # AQE stage barriers. Leave the seams on the scan's own
    # parallelism; at real scale the scan has splits and the seams
    # parallelize by themselves.
    base = with_units_and_norm(
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ).select("vec_id", "units", "norm2")
    # one Arrow batch matmul for every band value (vs SRP_BITS
    # interpreted HOF dots per row — see srp_bands_pandas; the JVM
    # formulation srp_band_col stays the oracle/reference and the two
    # are pinned value-identical in tests)
    bands = srp_bands_pandas(base)
    # pair discovery carries ONLY ids through the band join and the
    # distinct — never the 64-long unit arrays (a collision in two
    # bands would otherwise shuffle every duplicate pair's vectors);
    # vectors re-attach afterwards via two id-equi-joins against the
    # (units, norm2) base, which co-partitions on the id.
    a = bands.select("band_idx", "band_val", F.col("vec_id").alias("id_a"))
    b = bands.select("band_idx", "band_val", F.col("vec_id").alias("id_b"))
    pair_ids = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = base.select(
        F.col("vec_id").alias("id_a"),
        F.col("units").alias("units_a"),
        F.col("norm2").alias("norm2_a"),
    )
    vb = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("units").alias("units_b"),
        F.col("norm2").alias("norm2_b"),
    )
    cand = pair_ids.join(va, "id_a").join(vb, "id_b")
    # Arrow-batched exact verify (one numpy pass over all candidate
    # pairs) — value-identical to the per-pair cosine_fixed fold,
    # without the interpreted HOF cost per candidate
    return cosine_verify_pandas(cand, tau=0.30)


@register(
    "line_level_dedup",
    bench=True,
    ops=("N2", "N3", "W2", "A1"),
    oracle="""
        WITH parts AS (
            SELECT doc_id, string_split(text, '. ') AS p FROM documents
        ), sent AS (
            SELECT doc_id, i.i AS pos, p[i.i] AS s
            FROM parts, LATERAL (SELECT unnest(generate_series(1, len(p))) AS i) i
        ), ranked AS (
            SELECT doc_id, pos, s,
                   ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rn
            FROM sent
        )
        SELECT doc_id,
               string_agg(s, '. ' ORDER BY pos) FILTER (WHERE rn = 1) AS cleaned_text,
               COUNT(*) FILTER (WHERE rn = 1) AS n_kept,
               COUNT(*) FILTER (WHERE rn > 1) AS n_dropped
        FROM ranked
        GROUP BY doc_id
    """,
)
def line_level_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-level deduplication (the C4-style cleaning
    step): every sentence keeps only its FIRST occurrence across the
    whole corpus — ordered by (doc_id, position) — and documents are
    reassembled from their surviving sentences in original order.

    Scale: posexplode is per-row. First-occurrence choice is a
    MIN-STRUCT aggregate per sentence — not a window: a window
    partitioned by sentence pins every copy of a hot sentence (think
    boilerplate lines repeated millions of times) onto one task, while
    the aggregate combines map-side and the winner join back is
    one-to-one per sentence, which AQE's skew-join splitting can cut
    arbitrarily. Reassembly aggregates back on doc_id with an
    in-aggregate array_sort (no window anywhere in the plan). The
    deterministic (doc_id, pos) tie-break makes winner choice
    hash-stable; 1-based positions align Spark's posexplode (+1) with
    DuckDB's generate_series."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sent = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\\. ")).alias("pos0", "s"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "s")
    winners = sent.groupBy("s").agg(
        F.min(F.struct("doc_id", "pos")).alias("__w")
    )
    ranked = sent.join(winners, "s").withColumn(
        "rn",
        F.when(F.struct("doc_id", "pos") == F.col("__w"), F.lit(1)).otherwise(F.lit(2)),
    )
    kept = F.filter(
        F.array_sort(
            F.collect_list(
                F.when(F.col("rn") == 1, F.struct("pos", "s")).otherwise(F.lit(None))
            )
        ),
        lambda x: x.isNotNull(),
    )
    joined = F.array_join(F.transform(kept, lambda x: x["s"]), ". ")
    return ranked.groupBy("doc_id").agg(
        # a fully-deduplicated document (every sentence seen earlier)
        # must be NULL, matching string_agg over zero rows
        F.when(F.size(kept) > 0, joined).alias("cleaned_text"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dropped"),
    )


@register(
    "curation_to_training_mix",
    bench=True,
    ops=("A1", "A6", "J4", "J2", "P8"),
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang, text,
                   {sql_quality_metrics("text")["n_tokens"]} AS n_tokens,
                   {sql_quality_metrics("text")["distinct_ratio"]} AS distinct_ratio
            FROM documents
        ), kept AS (
            SELECT * FROM scored
            WHERE n_tokens >= 10 AND distinct_ratio >= 0.3
        ), deduped AS (
            SELECT * FROM kept
            WHERE doc_id IN (SELECT MIN(doc_id) FROM kept GROUP BY md5(text))
        ), toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform({_sql_shingles_n(DECONTAM_NGRAM)},
                       x -> {sql_portable_hash31('x')}))) AS sh
            FROM toks
        ), bench AS (
            SELECT DISTINCT sh FROM sh WHERE doc_id % {DECONTAM_BENCH_MOD} = 0
        ), contaminated AS (
            SELECT DISTINCT c.doc_id FROM sh c JOIN bench b USING (sh)
            WHERE c.doc_id % {DECONTAM_BENCH_MOD} <> 0
        ), clean AS (
            SELECT * FROM deduped
            WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0
              AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        ), assigned AS (
            SELECT *,
                   CASE WHEN {sql_portable_hash31("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
                        WHEN {sql_portable_hash31("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM clean
        )
        SELECT split, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM assigned GROUP BY split, lang
    """,
)
def curation_to_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one plan: quality gate -> exact
    dedup (first writer wins) -> benchmark decontamination (drop bench
    docs and anything sharing a 4-gram with them) -> deterministic
    90/5/5 split -> per (split, lang) token budget. Each stage is
    verified on its own elsewhere (corpus_curation,
    decontamination_overlap, deterministic_split); this composite
    proves they COMPOSE — the mart a training run actually reads.

    Scale: the gate is per-row; dedup and the winner join shuffle on
    the content fingerprint; decontamination is an explode + broadcast
    equi-join against the (small) benchmark shingle set; the split is
    per-row hash math; the final rollup shuffles two tiny keys. No
    stage materializes an intermediate — Catalyst plans the chain
    end to end, reusing the scan."""
    raw_docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # spread: four consumers (quality gate, dedup winner agg, bench
    # shingles, contamination shingles) each re-derived this scan under
    # their own exchange, all SERIAL on the one-split scan (r11
    # profile: 0.68 + 0.47 + 0.25 + 0.09 s one-task stages). One
    # keyed repartition parallelizes the text fan-out work and lets
    # ReuseExchange share the scan across all branches.
    docs = spread(raw_docs, "doc_id")
    # r11: explode(array(struct(...))) Generate barrier — predicate
    # pushdown used to substitute the packed quality expression into
    # the gate filter below the projection (scored ~2x per row; the
    # earlier alias-then-unpack note called it "a wash" but that was
    # measured pre-spread, when the stage was serial); a Generate
    # blocks both pushdown and CollapseProject, so the struct is
    # computed exactly once. Same rewrite as corpus_curation
    # (interleaved A/B there: 1.16x on the quiet window, 8/8 pairs).
    scored = docs.select(
        F.explode(
            F.array(
                F.struct(
                    "doc_id", "lang", "text",
                    quality_metrics_packed("text").alias("__q"),
                )
            )
        ).alias("r")
    ).select(
        F.col("r.doc_id").alias("doc_id"),
        F.col("r.lang").alias("lang"),
        F.col("r.text").alias("text"),
        F.col("r.__q.n_tokens").alias("n_tokens"),
        F.col("r.__q.distinct_ratio").alias("distinct_ratio"),
    )
    kept = scored.filter((F.col("n_tokens") >= 10) & (F.col("distinct_ratio") >= 0.3))
    winners = kept.groupBy(F.md5("text").alias("__fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    deduped = kept.join(winners.select("doc_id"), "doc_id")

    is_bench = F.col("doc_id") % DECONTAM_BENCH_MOD == 0
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(word_shingles("text", n=DECONTAM_NGRAM), portable_hash31)
            )
        ).alias("sh"),
    )
    # eager guard at plan-build time (see decontamination_overlap)
    assert_bounded(
        docs.filter(is_bench).select("doc_id"),
        DECONTAM_BENCH_DOC_CAP,
        "curation_to_training_mix benchmark docs",
        once_key=sf_dir,
    )
    bench_sh = sh.filter(is_bench).select("sh").distinct()
    contaminated = (
        sh.filter(~is_bench).join(F.broadcast(bench_sh), "sh").select("doc_id").distinct()
    )
    clean = deduped.filter(~is_bench).join(contaminated, "doc_id", "left_anti")

    h = portable_hash31(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    assigned = clean.withColumn(
        "split", F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    )
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


BIGRAM_TOP_K = 50  # LM-statistics head size; deterministic tie-break on bigram


@register(
    "corpus_bigram_counts",
    ops=("N2", "A1", "O1", "O2"),
    oracle=f"""
        WITH toks AS (
            SELECT {_SQL_TOKS} AS t FROM documents
        ), bg AS (
            SELECT UNNEST(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i+1])) AS bigram
            FROM toks
        ), c AS (
            SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM bg GROUP BY bigram
        )
        SELECT bigram, n_occurrences, CAST(rn AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                  ORDER BY n_occurrences DESC, bigram) AS rn FROM c)
        WHERE rn <= {BIGRAM_TOP_K}
    """,
)
def corpus_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram frequency head — the n-gram language-model
    statistics pass (and the boilerplate detector's raw material): all
    adjacent whitespace-token pairs across every document, counted,
    top-K by frequency with ties broken on the bigram itself so the
    selected set is deterministic.

    Scale: the explode fans each document into ~n_tokens rows, but the
    count aggregate gets full map-side combine, so what shuffles is
    one partial count per distinct bigram per task — bounded by
    vocabulary^2 head mass, not corpus size. Top-K plans as
    TakeOrderedAndProject (no global sort); the rank window runs on
    the K surviving rows only.
    """
    docs = load(spark, sf_dir, "documents").select("text")
    with_t = docs.withColumn("t", tokens("text"))
    bigrams = F.when(
        F.size(F.col("t")) >= 2,
        F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))"),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        with_t.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )
    top = counts.orderBy(F.col("n_occurrences").desc(), "bigram").limit(BIGRAM_TOP_K)
    w = W.orderBy(F.col("n_occurrences").desc(), "bigram")
    return top.select(
        "bigram", "n_occurrences", F.row_number().over(w).cast("int").alias("rank")
    )


BPE_NUM_MERGES = 12  # merge-table size at test scale (32k-class in production)
BPE_TOP_V = 200  # vocabulary rows the learner iterates over

# --- DuckDB oracle for BPE (recursive CTE): the sequential Sennrich
# loop re-expressed in SQL. Symbol arrays travel as separator-wrapped
# strings ("\x1e" around every symbol) so a merge is one replace() —
# string replace is left-to-right non-overlapping, which is exactly
# BPE's greedy application; "\x1f" joins words in the encode phase so
# merges never cross a word boundary (neither char occurs in the
# corpus). The argmax is a correlated scalar subquery with the same
# (count DESC, left, right) total order as the Spark learner.
_BPE_S = chr(30)
_BPE_W = chr(31)

_BPE_LEARN_CTE = f"""
st AS (
    SELECT 0 AS rank,
           CAST(NULL AS VARCHAR) AS l, CAST(NULL AS VARCHAR) AS r,
           CAST(NULL AS BIGINT) AS c,
           (SELECT list({{'n': n, 's': rep}} ORDER BY n DESC, word)
            FROM (
              SELECT word, CAST(COUNT(*) AS BIGINT) AS n,
                     '{_BPE_S}' || array_to_string(string_split(word, ''), '{_BPE_S}{_BPE_S}') || '{_BPE_S}' AS rep
              FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS word
                    FROM documents)
              GROUP BY word
              ORDER BY n DESC, word
              LIMIT {BPE_TOP_V}
            )) AS words
    UNION ALL
    SELECT rank + 1, m['l'], m['r'], m['c'],
           [{{'n': w['n'],
              's': replace(w['s'], '{_BPE_S}' || m['l'] || '{_BPE_S}{_BPE_S}' || m['r'] || '{_BPE_S}',
                                   '{_BPE_S}' || m['l'] || m['r'] || '{_BPE_S}')}}
            for w in words] AS words
    FROM (
        SELECT rank, words,
               (SELECT {{'l': pl, 'r': pr, 'c': pc}}
                FROM (
                    SELECT pp[1] AS pl, pp[2] AS pr, SUM(w['n']) AS pc
                    FROM (SELECT unnest(words) AS w) uw,
                         UNNEST(list_filter(
                             list_zip(list_filter(string_split(w['s'], '{_BPE_S}'), t -> t <> ''),
                                      list_filter(string_split(w['s'], '{_BPE_S}'), t -> t <> '')[2:]),
                             p -> p[2] IS NOT NULL)) AS t(pp)
                    GROUP BY pl, pr
                ) ORDER BY pc DESC, pl, pr LIMIT 1) AS m
        FROM st
        WHERE rank < {BPE_NUM_MERGES}
    )
    WHERE m IS NOT NULL
)"""

BPE_LEARN_ORACLE = f"""
WITH RECURSIVE {_BPE_LEARN_CTE}
SELECT rank, l AS "left", r AS "right", l || r AS merged, c AS pair_count
FROM st WHERE rank > 0
"""

BPE_ENCODE_ORACLE = f"""
WITH RECURSIVE {_BPE_LEARN_CTE},
merges AS (SELECT rank, l, r FROM st WHERE rank > 0),
enc AS (
    SELECT 0 AS rank, doc_id,
           array_to_string(
             ['{_BPE_S}' || array_to_string(string_split(w, ''), '{_BPE_S}{_BPE_S}') || '{_BPE_S}'
              for w in list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')],
             '{_BPE_W}') AS s
    FROM documents
    UNION ALL
    SELECT e.rank + 1, e.doc_id,
           replace(e.s, '{_BPE_S}' || m.l || '{_BPE_S}{_BPE_S}' || m.r || '{_BPE_S}',
                        '{_BPE_S}' || m.l || m.r || '{_BPE_S}') AS s
    FROM enc e JOIN merges m ON m.rank = e.rank + 1
)
SELECT doc_id,
       CAST(len(list_filter(string_split(replace(s, '{_BPE_W}', ''), '{_BPE_S}'), t -> t <> '')) AS BIGINT) AS n_subwords,
       array_to_string(list_filter(string_split(replace(s, '{_BPE_W}', ''), '{_BPE_S}'), t -> t <> ''), ',') AS subword_seq
FROM enc
WHERE rank = COALESCE((SELECT MAX(rank) FROM merges), 0)
"""


@register(
    "bpe_vocab_learn",
    ops=("A1", "N2", "O2"),
    oracle=BPE_LEARN_ORACLE,  # recursive-CTE replay of the sequential
    # algorithm (exact); independently cross-checked against a pure-
    # Python implementation in tests/test_llmops.py.
)
def bpe_vocab_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich 2016) on the documents corpus:
    reduce the corpus to its top-V word frequencies once, then learn
    BPE_NUM_MERGES merges; returns the ordered merge table a
    downstream tokenizer consumes. See llmops/bpe.py for the
    distributed shape (one bounded pair-count shuffle per round, JVM
    fold for the rewrite, no Python UDFs) and the determinism
    argument (integer counts, totally-ordered argmax).
    """
    from martian_moments_spark.llmops.bpe import bpe_merge_table

    docs = load(spark, sf_dir, "documents").select("text")
    return bpe_merge_table(spark, docs, num_merges=BPE_NUM_MERGES, top_v=BPE_TOP_V)


@register(
    "bpe_encode_corpus",
    ops=("A1", "N2"),
    oracle=BPE_ENCODE_ORACLE,  # learns the merge table via the same
    # recursive CTE, then replays the merges over every document with
    # boundary-safe string replaces (exact; see tests/test_llmops.py
    # for the independent cross-check).
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the documents corpus with the BPE merge table learned
    from it (bpe_vocab_learn): the train-then-encode round trip of a
    tokenizer pipeline in one query. Encoding replays merges in rank
    order, so segmentation is identical to what training produced.
    See llmops/bpe.py: Arrow mapInPandas with per-batch word
    memoization; the merge table travels by closure (tiny)."""
    from martian_moments_spark.llmops.bpe import bpe_encode, learn_bpe_merges

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    merges = learn_bpe_merges(
        spark, docs, num_merges=BPE_NUM_MERGES, top_v=BPE_TOP_V
    )
    return bpe_encode(docs, merges)


# ------------------------------------------------- domain/source curation

PER_SOURCE_CAP = 50  # max documents any single source may contribute


@register(
    "per_source_cap",
    ops=("W2", "P3", "F1"),
    oracle=f"""
        SELECT source, doc_id, CAST(rn AS INT) AS cap_rank
        FROM (
            SELECT source, doc_id,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY {sql_portable_hash31("'cap:' || CAST(doc_id AS VARCHAR)")}, doc_id
                   ) AS rn
            FROM documents
        )
        WHERE rn <= {PER_SOURCE_CAP}
    """,
)
def per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap — the web-corpus curation rule that
    keeps one crawl-heavy domain from dominating the training mix: each
    source keeps at most PER_SOURCE_CAP documents, selected by a
    deterministic salted-hash order (a fair random-without-rand draw;
    retries and partitionings cannot change the selection).

    Scale: one shuffle on source for the window, and Spark already
    plans the two-phase hot-key mitigation: rank()<=K windows get a
    WindowGroupLimit(Partial) per upstream task BEFORE the exchange
    (pinned in test_plans), so even a pathologically hot source ships
    at most K rows per task into the shuffle."""
    docs = load(spark, sf_dir, "documents").select("source", "doc_id")
    h = portable_hash31(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("cap_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("cap_rank") <= PER_SOURCE_CAP)
        .select("source", "doc_id", "cap_rank")
    )


@register(
    "source_mix_report",
    ops=("A1", "A3", "P8"),
    oracle=f"""
        WITH scored AS (
            SELECT source,
                   {sql_quality_metrics("text")["n_tokens"]} AS n_tokens,
                   {sql_quality_metrics("text")["distinct_ratio"]} AS distinct_ratio
            FROM documents
        ), per_source AS (
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(COUNT(*) FILTER (WHERE n_tokens >= 10 AND distinct_ratio >= 0.3) AS BIGINT) AS n_gate_pass
            FROM scored GROUP BY source
        )
        SELECT source, n_docs, total_tokens,
               CAST(total_tokens AS DOUBLE)
                 / CAST(SUM(total_tokens) OVER () AS DOUBLE) AS token_share,
               n_gate_pass
        FROM per_source
    """,
)
def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition audit by source: document and token counts,
    each source's share of corpus tokens, and how many of its docs
    pass the standard quality gate — the report a curation run reads
    before assigning mixture weights (corpus_mixture_sample consumes
    exactly these shares).

    Scale: per-row metrics then a tiny per-source aggregate; the share
    denominator is an unpartitioned window over the HANDFUL of source
    rows (post-aggregation cardinality, not corpus cardinality), which
    is the cheap and correct place for a global sum."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    scored = docs.select(
        "source", quality_metrics_packed("text").alias("__q")
    ).select(
        "source",
        F.col("__q.n_tokens").alias("n_tokens"),
        F.col("__q.distinct_ratio").alias("distinct_ratio"),
    )
    per_source = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(
            F.when(
                (F.col("n_tokens") >= 10) & (F.col("distinct_ratio") >= 0.3), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_gate_pass"),
    )
    share = F.col("total_tokens").cast("double") / F.sum("total_tokens").over(
        W.partitionBy()
    ).cast("double")
    return per_source.select(
        "source", "n_docs", "total_tokens", share.alias("token_share"), "n_gate_pass"
    )


@register(
    "dedup_cluster_stats",
    ops=("A1", "A6"),
    oracle="""
        WITH clusters AS (
            SELECT md5(text) AS fp, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM documents GROUP BY md5(text)
        )
        SELECT cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
               CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_redundant
        FROM clusters GROUP BY cluster_size
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup diagnostic read
    before choosing a strategy: how many exact-content clusters exist
    at each size and how many documents deduplication would remove
    (n_redundant = every copy beyond the keeper). An exact-dedup run
    (dedup_exact) removes SUM(n_redundant) rows by construction.

    Scale: two cascaded aggregates — fingerprint (corpus-wide shuffle
    with map-side combine, same key as dedup itself) then cluster_size
    (tiny: one row per distinct size). Nothing driver-side."""
    docs = load(spark, sf_dir, "documents").select("text")
    clusters = docs.groupBy(F.md5("text").alias("fp")).agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
        ((F.col("cluster_size") - F.lit(1)) * F.count(F.lit(1)))
        .cast("long")
        .alias("n_redundant"),
    )


@register(
    "incremental_dedup_index",
    bench=True,
    ops=("A1", "J4", "A6"),
    oracle="""
        WITH index AS (
            SELECT DISTINCT md5(text) AS fp
            FROM documents WHERE doc_id % 3 <> 0
        ), incoming AS (
            SELECT doc_id, md5(text) AS fp
            FROM documents WHERE doc_id % 3 = 0
        ), novel AS (
            SELECT fp, MIN(doc_id) AS doc_id
            FROM incoming
            WHERE fp NOT IN (SELECT fp FROM index)
            GROUP BY fp
        )
        SELECT i.doc_id,
               i.fp,
               (n.doc_id IS NOT NULL AND n.doc_id = i.doc_id) AS is_novel
        FROM incoming i
        LEFT JOIN novel n ON n.fp = i.fp
    """,
)
def incremental_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the production shape exact_dedup is
    the batch form of: an INCOMING increment (modeled as doc_id%3==0)
    is checked against the accumulated fingerprint INDEX of everything
    already ingested (doc_id%3!=0). Each incoming doc is flagged
    is_novel iff its content fingerprint is absent from the index AND
    it is the first (min doc_id) holder of that fingerprint within the
    increment — exactly the rows a daily crawl run appends to the
    corpus and to the index.

    Scale: the index probe is a left join on the fingerprint (the same
    key the index table would be bucketed on, making it co-located and
    shuffle-free against a bucketed index); within-increment first-
    writer choice is a min aggregate, not a window — no hot-task pin
    when a crawl re-fetches one page a million times."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    index = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(F.md5("text").alias("fp"))
        .distinct()
        .withColumn("__in_index", F.lit(1))
    )
    incoming = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.md5("text").alias("fp")
    )
    novel = (
        incoming.join(index, "fp", "left")
        .filter(F.col("__in_index").isNull())
        .groupBy("fp")
        .agg(F.min("doc_id").alias("__keep"))
    )
    return (
        incoming.join(novel, "fp", "left")
        .select(
            "doc_id",
            "fp",
            (F.col("__keep").isNotNull() & (F.col("__keep") == F.col("doc_id"))).alias(
                "is_novel"
            ),
        )
    )


@register(
    "source_embedding_centroids",
    ops=("J2", "A1", "N6"),
    oracle="""
        WITH j AS (
            SELECT d.source, {units} AS units
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        ), fan AS (
            SELECT source, i AS pos, units[i] AS unit
            FROM j, UNNEST(range(1, len(units) + 1)) AS t(i)
        )
        SELECT source,
               CAST(pos AS INT) AS dim,
               CAST(SUM(unit) AS BIGINT) AS unit_sum,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(unit) AS DOUBLE) / (1000000.0 * COUNT(*)) AS centroid
        FROM fan
        GROUP BY source, pos
    """.format(units=_SQL_UNITS),
)
def source_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding centroids — the domain-level semantic map
    (which sources cluster together, which drift) a curation run uses
    next to source_mix_report. Elementwise mean over each source's
    vectors, computed on exact integer millionth units (the engine's
    fixed-point rule) so the SUM is order/partitioning-independent and
    the oracle matches bit-for-bit; the final division is one IEEE
    double op on exact integers — deterministic in any engine.

    Scale: posexplode fans each vector into (dim, unit) rows; the
    aggregate combines map-side per (source, dim) — 64 x n_sources
    result rows regardless of corpus size. The alternative (zip_with
    fold over an array accumulator in one agg) saves the fan-out but
    loses map-side combine; at 100 TB the combine wins."""
    from martian_moments_spark.llmops.similarity import embedding_units

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", embedding_units("embedding").alias("units")
    )
    j = docs.join(emb, docs.doc_id == emb.vec_id).select("source", "units")
    fan = j.select(
        "source", F.posexplode("units").alias("pos0", "unit")
    ).select("source", (F.col("pos0") + 1).cast("int").alias("dim"), "unit")
    return fan.groupBy("source", "dim").agg(
        F.sum("unit").cast("long").alias("unit_sum"),
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        (
            F.sum("unit").cast("double")
            / (F.lit(1000000.0) * F.count(F.lit(1)).cast("double"))
        ).alias("centroid"),
    )


@register(
    "quality_weighted_sample",
    ops=("P3", "P8", "A1"),
    oracle=f"""
        WITH scored AS (
            SELECT doc_id,
                   {sql_quality_metrics("text")["n_tokens"]} AS n_tokens,
                   {sql_quality_metrics("text")["distinct_ratio"]} AS distinct_ratio
            FROM documents
        ), weighted AS (
            SELECT doc_id, n_tokens,
                   CASE WHEN distinct_ratio >= 0.5 THEN 80
                        WHEN distinct_ratio >= 0.3 THEN 50
                        ELSE 20 END AS keep_pct
            FROM scored
        )
        SELECT doc_id, n_tokens, keep_pct
        FROM weighted
        WHERE {sql_portable_hash31("'qws:' || CAST(doc_id AS VARCHAR)")} % 100 < keep_pct
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic downsampling — the data-mix move
    between keep-all and drop-all: higher-quality documents survive
    with higher probability (here a 3-tier keep percentage on the
    distinct-token ratio), decided by a salted content-independent
    hash so the draw is reproducible under retries, partitioning, and
    incremental re-runs (a doc's fate never changes across runs —
    exactly what makes downstream dedup/packing incremental).

    Scale: pure per-row math, no shuffle at all; composes with
    corpus_mixture_sample's per-source weights."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    weighted = docs.select(
        "doc_id", quality_metrics_packed("text").alias("__q")
    ).select(
        "doc_id",
        F.col("__q.n_tokens").alias("n_tokens"),
        F.when(F.col("__q.distinct_ratio") >= 0.5, 80)
        .when(F.col("__q.distinct_ratio") >= 0.3, 50)
        .otherwise(20)
        .alias("keep_pct"),
    )
    h = portable_hash31(F.concat(F.lit("qws:"), F.col("doc_id").cast("string"))) % 100
    return weighted.filter(h < F.col("keep_pct"))


@register(
    "curriculum_phases",
    ops=("W1", "W2", "A1"),
    oracle=f"""
        WITH scored AS (
            SELECT doc_id,
                   {sql_quality_metrics("text")["n_tokens"]} AS n_tokens,
                   {sql_quality_metrics("text")["avg_token_len"]} AS difficulty
            FROM documents
        )
        SELECT doc_id, n_tokens, difficulty,
               CAST(ntile(4) OVER (ORDER BY difficulty, doc_id) AS INT) AS phase
        FROM scored
    """,
)
def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assignment: rank the corpus by a difficulty proxy
    (average token length) and cut it into 4 equal phases — the
    easy-to-hard schedule curriculum training consumes. The
    (difficulty, doc_id) order is total, so phase boundaries are
    deterministic.

    Scale: the oracle's global ntile window would funnel the corpus
    through ONE task (an unpartitioned Spark window is a single
    partition), so the plan is the two-phase range-ranking shape of
    global_rank_range_partitioned instead: bucket by difficulty range,
    per-bucket counts prefix-summed into broadcast offsets, global
    rank = offset + within-bucket row_number, and SQL's exact ntile
    arithmetic (first n%k tiles take one extra row) applied to
    (rank, total) in closed form. The corpus shuffles once on the
    bucket id and never through a single task."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    scored = docs.select(
        "doc_id", quality_metrics_packed("text").alias("__q")
    ).select(
        "doc_id",
        F.col("__q.n_tokens").alias("n_tokens"),
        F.col("__q.avg_token_len").alias("difficulty"),
    )
    rows = scored.withColumn(
        "__b", F.floor(F.col("difficulty") / F.lit(0.25)).cast("long")
    )
    counts = rows.groupBy("__b").agg(F.count(F.lit(1)).cast("long").alias("__n"))
    w_off = W.orderBy("__b").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "__b",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).cast("long").alias("__off"),
    )
    total = counts.agg(F.sum("__n").cast("long").alias("__total"))
    w_in = W.partitionBy("__b").orderBy("difficulty", "doc_id")
    ranked = (
        rows.join(F.broadcast(offsets), "__b")
        .withColumn("__rn", F.col("__off") + F.row_number().over(w_in))
        .crossJoin(F.broadcast(total))  # 1-row scalar, the engine's pattern
    )
    k = F.lit(4).cast("long")
    q = (F.col("__total") / k).cast("long")  # floor: total, k > 0
    rem = F.col("__total") % k
    r0 = F.col("__rn") - 1
    # SQL ntile: first `rem` tiles hold q+1 rows, the rest hold q
    phase = F.when(
        r0 < rem * (q + 1), (r0 / (q + 1)).cast("long")
    ).otherwise(rem + ((r0 - rem * (q + 1)) / F.greatest(q, F.lit(1))).cast("long"))
    return ranked.select(
        "doc_id",
        "n_tokens",
        "difficulty",
        (phase + 1).cast("int").alias("phase"),
    )


def _sql_fuzzy_bands(source: str) -> str:
    """The banded-minhash CTE chain over ``source`` (must expose
    doc_id, text) — shared by the batch fuzzy pipeline and the
    incremental index probe."""
    pairs = []
    for b in range(len(MINHASH_SEEDS) // 2):
        lo, hi = 2 * b, 2 * b + 1
        pairs.append(
            f"SELECT doc_id, {b} AS band_idx,"
            f" ((0 * 1000003 + COALESCE(mh_{lo}, 0) % 1000003) % {HASH_P} * 1000003"
            f" + COALESCE(mh_{hi}, 0) % 1000003) % {HASH_P} AS band_val FROM __mh_{source}"
        )
    return "\n            UNION ALL\n            ".join(pairs)


@register(
    "incremental_fuzzy_dedup",
    ops=("J2", "J3", "A6"),
    oracle=f"""
        WITH idx AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
        ), inc AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        ), __mh_idx AS (
            SELECT doc_id, {_sql_minhash_cols()}
            FROM (SELECT doc_id, {_SQL_SHINGLES.replace("t[", "tt[").replace("len(t)", "len(tt)")} AS s
                  FROM (SELECT doc_id, {_SQL_TOKS} AS tt FROM idx))
        ), __mh_inc AS (
            SELECT doc_id, {_sql_minhash_cols()}
            FROM (SELECT doc_id, {_SQL_SHINGLES.replace("t[", "tt[").replace("len(t)", "len(tt)")} AS s
                  FROM (SELECT doc_id, {_SQL_TOKS} AS tt FROM inc))
        ), bidx AS (
            {_sql_fuzzy_bands("idx")}
        ), binc AS (
            {_sql_fuzzy_bands("inc")}
        ), cand AS (
            SELECT DISTINCT i.doc_id AS inc_id, x.doc_id AS idx_id
            FROM binc i JOIN bidx x
              ON i.band_idx = x.band_idx AND i.band_val = x.band_val
        ), dtoks AS (
            SELECT doc_id, list_distinct({_SQL_TOKS}) AS tk FROM documents
        ), verified AS (
            SELECT c.inc_id, c.idx_id
            FROM cand c
            JOIN dtoks ti ON ti.doc_id = c.inc_id
            JOIN dtoks tx ON tx.doc_id = c.idx_id
            WHERE len(list_distinct(list_concat(ti.tk, tx.tk))) > 0
              AND CAST(len(list_intersect(ti.tk, tx.tk)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(ti.tk, tx.tk))) AS DOUBLE)
                  >= {FUZZY_TAU}
        ), dup AS (
            SELECT inc_id AS doc_id, MIN(idx_id) AS dup_of_index
            FROM verified GROUP BY inc_id
        )
        SELECT i.doc_id, d.dup_of_index, d.dup_of_index IS NULL AS is_novel
        FROM inc i LEFT JOIN dup d ON i.doc_id = d.doc_id
    """,
)
def incremental_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FUZZY dedup — the daily-increment form of
    fuzzy_dedup_pipeline (which handles the batch/within-corpus case):
    an incoming increment (doc_id%3==0) probes the accumulated MinHash
    BAND INDEX of everything already ingested, and each incoming doc
    is flagged novel or near-duplicate-of-index (lowest matching index
    id) after exact Jaccard verification at FUZZY_TAU. Within-increment
    duplicates are the batch pipeline's job; composing both is the
    production crawl loop.

    Scale: the index side stores (band_idx, band_val, doc_id) — the
    table a production system bucket-partitions by band key, making
    the probe a co-located equi-join; the Jaccard verifier touches
    O(collisions) pairs only. Signatures for the increment are per-row
    math; nothing rescans the historical corpus text except the
    verifier's candidate token sets (an id-equi-join)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sig_cols = [f"mh_{i}" for i in range(len(MINHASH_SEEDS))]

    def bands_of(df: DataFrame) -> DataFrame:
        hashed = df.withColumn(
            "__sh", F.transform(word_shingles("text"), portable_hash31)
        )
        sig = hashed.select("doc_id", *minhash_from_hashes(F.col("__sh")))
        banded = sig.select("doc_id", *lsh_bands(sig_cols))
        n_bands = len(MINHASH_SEEDS) // 2
        return banded.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            F.col(f"band_{b}").alias("band_val"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("b"),
        ).select("doc_id", "b.band_idx", "b.band_val")

    idx = docs.filter(F.col("doc_id") % 3 != 0)
    inc = docs.filter(F.col("doc_id") % 3 == 0)
    cand = (
        bands_of(inc)
        .withColumnRenamed("doc_id", "inc_id")
        .join(
            bands_of(idx).withColumnRenamed("doc_id", "idx_id"),
            ["band_idx", "band_val"],
        )
        .select("inc_id", "idx_id")
        .distinct()
    )
    dtoks = docs.select(
        "doc_id",
        F.array_distinct(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("tk"),
    )
    ti = dtoks.select(
        F.col("doc_id").alias("inc_id"),
        F.col("tk").alias("tk_i"),
        F.size("tk").alias("n_i"),
    )
    tx = dtoks.select(
        F.col("doc_id").alias("idx_id"),
        F.col("tk").alias("tk_x"),
        F.size("tk").alias("n_x"),
    )
    inter = F.size(F.array_intersect("tk_i", "tk_x")).cast("double")
    # |A∪B| identity — same exact value, no per-pair union array
    union = (F.col("n_i") + F.col("n_x")).cast("double") - inter
    verified = (
        cand.join(ti, "inc_id")
        .join(tx, "idx_id")
        .filter((union > 0) & (inter / union >= F.lit(FUZZY_TAU)))
    )
    dup = verified.groupBy(F.col("inc_id").alias("doc_id")).agg(
        F.min("idx_id").alias("dup_of_index")
    )
    return (
        inc.select("doc_id")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id", "dup_of_index", F.col("dup_of_index").isNull().alias("is_novel")
        )
    )


SEMDECON_BENCH_MOD = 37  # vec_id % MOD == 0 -> held-out benchmark vector
# Declared bound on the driver-collected benchmark matrix (real eval
# sets are thousands of vectors; 100k x 64 int64 ~ 50 MB closure).
# collect_bounded transfers at most cap+1 rows, so the plan can never
# OOM the driver however large the corpus grows.
SEMDECON_BENCH_CAP = 100_000
SEMDECON_TAU = 0.30  # contamination cut (the corpus is isotropic: the
# tau marks unusually-similar pairs; real pipelines set ~0.9 on real
# embeddings — the dial, not the mechanism)


@register(
    "semantic_decontamination",
    ops=("J2", "A1", "A4"),
    oracle=f"""
        WITH n AS (
            SELECT vec_id, {{units}} AS units,
                   CAST(list_sum(list_transform(list_zip({{units}}, {{units}}),
                        z -> z[1] * z[2])) AS BIGINT) AS norm2
            FROM embeddings
        ), bench AS (
            SELECT * FROM n WHERE vec_id % {SEMDECON_BENCH_MOD} = 0
        ), train AS (
            SELECT * FROM n WHERE vec_id % {SEMDECON_BENCH_MOD} <> 0
        ), scored AS (
            SELECT t.vec_id,
                   MAX(CAST(CAST(list_sum(list_transform(list_zip(t.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS DOUBLE)
                     / (sqrt(CAST(t.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))))
                       AS max_bench_cosine
            FROM train t, bench b
            GROUP BY t.vec_id
        )
        SELECT vec_id, max_bench_cosine,
               (max_bench_cosine >= {SEMDECON_TAU}) AS is_contaminated
        FROM scored
    """.format(units=_SQL_UNITS),
)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the EMBEDDING-space companion to the
    n-gram decontamination_overlap: a training vector is contaminated
    when its max cosine against ANY held-out benchmark vector reaches
    the tau. Exact (fixed-point), so the oracle hash-matches.

    Scale: the benchmark set is tiny relative to the corpus (held-out
    evals always are), so its unit matrix travels as an Arrow-closure
    broadcast and every train partition computes one
    (rows x bench) int64 matmul + row-max — a single corpus pass, no
    shuffle at all, no pairwise materialization. The n^2-in-bench
    oracle exists because the bench side is small; the Spark plan
    never builds the cross product."""
    import numpy as np
    import pandas as pd

    from martian_moments_spark.llmops.similarity import with_units_and_norm

    base = with_units_and_norm(
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ).select("vec_id", "units", "norm2")
    is_bench = F.col("vec_id") % SEMDECON_BENCH_MOD == 0
    bench_rows = collect_bounded(
        base.filter(is_bench),
        SEMDECON_BENCH_CAP,
        "semantic_decontamination benchmark vectors",
    )
    B = np.array([list(r["units"]) for r in bench_rows], dtype=np.int64)
    bn = np.sqrt(np.array([r["norm2"] for r in bench_rows], dtype=np.float64))

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            U = np.array(list(pdf["units"]), dtype=np.int64)
            dots = U @ B.T  # (rows, bench) exact int64
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots.astype(np.float64) / (
                    np.sqrt(pdf["norm2"].to_numpy(dtype=np.float64))[:, None]
                    * bn[None, :]
                )
            mx = cos.max(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "max_bench_cosine": mx,
                    "is_contaminated": mx >= SEMDECON_TAU,
                }
            )

    return base.filter(~is_bench).mapInPandas(
        batches, "vec_id bigint, max_bench_cosine double, is_contaminated boolean"
    )


@register(
    "doc_top_terms",
    ops=("N2", "N6", "A7"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), counted AS (
            SELECT doc_id,
                   list_transform(
                       list_distinct(t),
                       x -> struct_pack(
                           neg_n := -CAST(len(list_filter(t, y -> y = x)) AS BIGINT),
                           term := x)
                   ) AS cs
            FROM toks
        )
        SELECT doc_id,
               array_to_string(list_transform(list_sort(cs)[1:3], c -> c.term), ',') AS top_terms,
               array_to_string(list_transform(list_sort(cs)[1:3], c -> CAST(-c.neg_n AS VARCHAR)), ',') AS top_counts
        FROM counted
    """,
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by frequency — the per-row companion
    to corpus-level tfidf_top_terms, computed ENTIRELY in array space:
    tokenize, count each distinct token's occurrences, sort by
    (count DESC, term ASC) and slice — no explode, no shuffle, no
    group-by. The deterministic tie-break comes free from lexicographic
    struct ordering over (negated count, term), which Spark's
    array_sort and DuckDB's list_sort implement identically.

    Scale: pure per-row expression work (the token arrays are bound
    once — the let-binding rule); a 100 TB corpus maps through with
    zero data movement. Quadratic in DISTINCT tokens per doc via the
    count-inside-transform, which is the array-space trade — explode +
    groupBy is the right shape when single documents are huge."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def top_structs(t: Column) -> Column:
        counted = F.transform(
            F.array_distinct(t),
            lambda x: F.struct(
                (-F.size(F.filter(t, lambda y: y == x))).cast("long").alias("neg_n"),
                x.alias("term"),
            ),
        )
        return F.slice(F.array_sort(counted), 1, 3)

    top = F.element_at(
        F.transform(F.array(tokens("text")), top_structs), 1
    )
    # arrays serialize to comma-joined strings (the engine's
    # hash-compare rule for array outputs, as in bpe_encode_corpus)
    return docs.select(
        "doc_id",
        F.array_join(F.transform(top, lambda c: c["term"]), ",").alias("top_terms"),
        F.array_join(
            F.transform(top, lambda c: (-c["neg_n"]).cast("string")), ","
        ).alias("top_counts"),
    )


@register(
    "ngram_novelty",
    ops=("N2", "A1", "J2"),
    oracle=f"""
        WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform({_sql_shingles_n(3)},
                       x -> {sql_portable_hash31('x')}))) AS sh
            FROM (SELECT doc_id, {_SQL_TOKS} AS t FROM documents)
        ), df AS (
            SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_docs FROM sh GROUP BY sh
        )
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN d.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN d.n_docs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS novelty_ratio
        FROM sh s JOIN df d USING (sh)
        GROUP BY s.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the boilerplate/template detector
    that complements repeated_ngram_ratio's WITHIN-document view: the
    fraction of a doc's distinct word 3-grams appearing in NO other
    document. Low novelty = shared/templated text (cut or downweight);
    high = unique content.

    Scale: one shingle explode feeds both the document-frequency
    aggregate and (re-joined on the shingle hash — same key, same
    partitioning) the per-doc rollup; df counts combine map-side, so
    the shuffle carries one partial per distinct shingle per task.
    Documents with < 3 tokens have no shingles and (matching the
    oracle's inner-join grain) no row."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(word_shingles("text", n=3), portable_hash31)
            )
        ).alias("sh"),
    )
    df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    novel = F.when(F.col("n_docs") == 1, 1).otherwise(0)
    return (
        sh.join(df_counts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(novel).cast("long").alias("n_novel"),
            (
                F.sum(novel).cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("novelty_ratio"),
        )
    )


@register(
    "doc_rarity_score",
    ops=("A1", "J1", "N2"),
    bench=True,
    oracle=f"""
        WITH occ AS (
            SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
        ), freq AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS corpus_freq
            FROM occ GROUP BY tok
        )
        SELECT o.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(f.corpus_freq) AS BIGINT) AS freq_sum,
               CAST(SUM(f.corpus_freq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS mean_token_freq
        FROM occ o JOIN freq f ON o.tok = f.tok
        GROUP BY o.doc_id
    """,
)
def doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document rarity scoring: the mean corpus frequency of each
    document's tokens — a unigram-LM familiarity proxy (low mean
    frequency = rare vocabulary; the deterministic cousin of a
    perplexity filter, kept in BIGINT ratio space so the oracle
    hash-matches where log-space perplexity could differ in ulps).

    Scale: token explode -> frequency aggregate -> re-join on the
    token key: the frequency table and the re-join share the token
    partitioning (one shuffle reused), df counts combine map-side,
    and the per-doc rollup shuffles once on doc_id. Same shape as
    TF-IDF, no driver round-trip."""
    occ = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    freq = occ.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("corpus_freq")
    )
    return (
        occ.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("corpus_freq").cast("long").alias("freq_sum"),
            (
                F.sum("corpus_freq").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_token_freq"),
        )
    )


@register(
    "source_vocab_overlap",
    ops=("A6", "J2", "A1", "O1"),
    oracle=f"""
        WITH vocab AS (
            SELECT DISTINCT source, unnest({_SQL_TOKS}) AS tok
            FROM documents
        ), sizes AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab_size
            FROM vocab GROUP BY source
        ), inter AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM vocab a JOIN vocab b
              ON a.tok = b.tok AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT i.source_a, i.source_b,
               sa.vocab_size AS vocab_a,
               sb.vocab_size AS vocab_b,
               i.n_shared,
               CAST(i.n_shared AS DOUBLE)
                   / CAST(sa.vocab_size + sb.vocab_size - i.n_shared AS DOUBLE)
                   AS jaccard
        FROM inter i
        JOIN sizes sa ON i.source_a = sa.source
        JOIN sizes sb ON i.source_b = sb.source
        ORDER BY source_a, source_b
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus sources — the
    source-redundancy report a mixture designer reads before choosing
    corpus weights (two sources with near-identical vocabulary add
    diversity only once). Jaccard = |A∩B| / (|A|+|B|-|A∩B|) on BIGINT
    distinct-token counts.

    Scale: the token self-join is keyed on the token (an equi-join,
    never source-pairs x vocabulary); n_sources is bounded so the
    pair aggregate and the two broadcast size-joins are tiny. A
    hot token shared by all sources contributes O(n_sources^2) pair
    rows per token — bounded by the source count, not the corpus."""
    vocab = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(tokens("text")).alias("tok"))
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size")
    )
    a = vocab.select(F.col("source").alias("source_a"), "tok")
    b = vocab.select(F.col("source").alias("source_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("vocab_size").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("vocab_size").alias("vocab_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---- product quantization (IVF-PQ compression half) ----------------

from martian_moments_spark.llmops.pq import (  # noqa: E402
    PQ_K,
    PQ_M,
    codebook_df,
    pq_encode,
    pq_train_codebooks,
    sql_pq_ctes,
    subspace_sqdist,
)

_PQ_DIM = 64  # corpus embedding dimensionality (SRP_DIM)
_PQ_SUB = _PQ_DIM // PQ_M
_PQ_NQ = 5  # query-set size for the registered search
_SQL_PQ = sql_pq_ctes(_SQL_UNITS, _SQL_VEC_HASH, dim=_PQ_DIM)


@register(
    "embedding_pq_topk",
    ops=("J1", "W2", "O2"),
    oracle=f"""
        WITH {_SQL_PQ}, qset AS (
            SELECT vec_id AS query_id, units AS qunits
            FROM punits ORDER BY vec_id LIMIT {_PQ_NQ}
        ), lut AS (
            SELECT q.query_id, c.m, c.code,
                   CAST(list_sum(list_transform(
                        list_zip(list_slice(q.qunits, c.m * {_PQ_SUB} + 1,
                                            (c.m + 1) * {_PQ_SUB}), c.c),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS pdist
            FROM qset q CROSS JOIN pcents c
        ), adc AS (
            SELECT l.query_id, e.vec_id, CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
            FROM penc e JOIN lut l ON e.m = l.m AND e.code = l.code
            WHERE e.vec_id <> l.query_id
            GROUP BY l.query_id, e.vec_id
        )
        SELECT query_id, vec_id AS neighbor_id, adc_dist, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
              FROM adc)
        WHERE rn <= 5
    """,
)
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (the IVF-PQ compression half): per-subspace
    codebooks replace each 64-dim vector with 16 small codes (~32x
    smaller), and queries scan the compressed corpus with an ADC
    lookup-table join. Training, encoding, and search are all integer /
    IEEE-exact arithmetic, so the DuckDB oracle replays the ENTIRE
    pipeline (pq.py sql_pq_ctes) — a hash-exact ANN check.

    Scale: codebooks train driver-side on a bounded deterministic
    sample; encoding is one mapInPandas streaming pass (no shuffle);
    the search joins the broadcast per-query LUT (M*K rows/query)
    against the exploded code column and sums — a linear scan of codes,
    the FAISS ADC shape, never a crossJoin of raw vectors. At 100 TB
    the codes table is ~1/32nd the corpus and the LUT join + top-k
    window are the only work per query batch."""
    emb = load(spark, sf_dir, "embeddings")
    base, books = pq_train_codebooks(emb)
    enc = pq_encode(base, books)
    enc_long = enc.select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    ).withColumn("m", F.col("m").cast("int"))
    qset = (
        base.orderBy("vec_id")
        .limit(_PQ_NQ)
        .select(F.col("vec_id").alias("query_id"), F.col("units").alias("qunits"))
    )
    cb = codebook_df(spark, books)
    sub = len(books[0][0][1])
    lut = qset.crossJoin(F.broadcast(cb)).select(
        "query_id",
        "m",
        "code",
        subspace_sqdist(
            F.slice(F.col("qunits"), F.col("m") * sub + 1, sub), F.col("centroid")
        ).alias("pdist"),
    )
    adc = (
        enc_long.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pdist").cast("long").alias("adc_dist"))
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_dist", "rank")
    )


# ---- count-min sketch heavy hitters --------------------------------

from martian_moments_spark.functions.sketches import (  # noqa: E402
    CMS_SEEDS,
    cms_build,
    cms_estimate,
    sql_cms_bucket,
)

_CMS_TOPK = 50
_SQL_CMS_CELLS = " UNION ALL ".join(
    f"SELECT {r} AS row, {sql_cms_bucket('tok', r)} AS bucket, exact_count AS w FROM cnt"
    for r in range(len(CMS_SEEDS))
)
_SQL_CMS_PROBES = " UNION ALL ".join(
    f"SELECT tok, {r} AS row, {sql_cms_bucket('tok', r)} AS bucket FROM cand"
    for r in range(len(CMS_SEEDS))
)


@register(
    "heavy_hitters_cms",
    ops=("A1", "J1", "U1", "O1", "O2"),
    oracle=f"""
        WITH toks AS (
            SELECT unnest({_SQL_TOKS}) AS tok FROM documents
        ), cnt AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count
            FROM toks GROUP BY tok
        ), cells AS (
            SELECT row, bucket, CAST(SUM(w) AS BIGINT) AS total
            FROM ({_SQL_CMS_CELLS}) GROUP BY row, bucket
        ), cand AS (
            SELECT tok, exact_count FROM cnt
            ORDER BY exact_count DESC, tok LIMIT {_CMS_TOPK}
        ), probes AS ({_SQL_CMS_PROBES}),
        est AS (
            SELECT p.tok, CAST(MIN(c.total) AS BIGINT) AS cms_estimate
            FROM probes p JOIN cells c ON p.row = c.row AND p.bucket = c.bucket
            GROUP BY p.tok
        )
        SELECT c.tok AS token, c.exact_count, e.cms_estimate,
               CAST(e.cms_estimate - c.exact_count AS BIGINT) AS overcount
        FROM cand c JOIN est e ON c.tok = e.tok
        ORDER BY c.exact_count DESC, c.tok
    """,
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch (functions/sketches.py):
    the bounded-memory frequency summary a 100 TB stream or corpus
    uses when the full histogram cannot exist. The registered query
    builds the D x W sketch, probes it for the exact top-50 tokens,
    and reports estimate vs truth (overcount >= 0 always — CMS never
    underestimates). Integer arithmetic end to end, so the whole
    sketch replays in the DuckDB oracle.

    Scale: the sketch build is one (row, bucket)-keyed aggregate with
    map-side combine (at most D*W = 4096 cells leave each task); the
    probe joins D rows per candidate against the broadcast sketch.
    The exact top-50 here exists only to grade the sketch — a real
    deployment keeps just the grid + candidate stream."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cnt = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        # three consumers (sketch build, candidate sort, final join)
        # would each re-run the corpus-wide tokenize+count — pay it once
        .localCheckpoint(eager=True)
    )
    sketch = cms_build(cnt, "tok", weight_col="exact_count")
    cand = cnt.orderBy(F.col("exact_count").desc(), "tok").limit(_CMS_TOPK)
    est = cms_estimate(sketch, cand.select("tok"), "tok")
    return (
        cand.join(est, "tok")
        .select(
            F.col("tok").alias("token"),
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overcount"),
        )
        .orderBy(F.col("exact_count").desc(), "token")
    )


_FILTER_LABEL = 2  # the metadata predicate of the filtered search


@register(
    "embedding_ann_filtered",
    ops=("J2", "P3", "W2", "O2"),
    oracle=f"""
        WITH {_SQL_KMEANS}, lab AS (
            SELECT vec_id, label FROM embeddings
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(a.cell AS INT) AS cell,
                   CAST(list_sum(list_transform(list_zip(a.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS dot,
                   a.norm2 AS na, b.norm2 AS nb
            FROM kassign a
            JOIN kassign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
            JOIN lab ON b.vec_id = lab.vec_id
            WHERE lab.label = {_FILTER_LABEL}
        ), cos AS (
            SELECT id_a, id_b, cell,
                   CAST(dot AS DOUBLE)
                       / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
            FROM pairs
        )
        SELECT id_a, id_b, cosine, CAST(rn AS INT) AS rank, cell
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rn FROM cos)
        WHERE rn <= 5
    """,
)
def embedding_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: IVF top-k where candidates must ALSO
    satisfy a metadata predicate (label = 2) — the
    "WHERE category = X ORDER BY embedding <-> q LIMIT k" shape every
    vector store is asked for. This is the PRE-filter strategy: the
    candidate side is reduced to matching rows BEFORE the cell join,
    so search cost tracks the filter's selectivity (post-filtering
    top-k-then-WHERE silently returns < k when the filter is
    selective; pre-filter keeps k whenever k matches exist in the
    probed cells).

    Scale: the label predicate masks the candidate AXIS of a per-cell
    rectangular Gram matmul (queries x matching-candidates), so search
    cost tracks the filter's selectivity inside each probed cell; one
    shuffle on the cell key, no pair join, no per-pair zip-dot — the
    same Arrow matmul seam as embedding_ann_ivf/SemDeDup (that rewrite
    measured 57 s -> 4.6 s at sf1). A denser-metadata deployment would
    bucket by (cell, label) to make the filter a partition key."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_units_corpus(emb, sf_dir)
    labeled = assigned.join(emb.select("vec_id", "label"), "vec_id").withColumn(
        "is_cand", F.col("label") == _FILTER_LABEL
    )
    return topk_units_cells_filtered_pandas(labeled, k=5).select(
        "id_a", "id_b", "cosine", "rank", "cell"
    )


_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_NQ = 5  # query-set size
_RRF_TOPK = 10


@register(
    "hybrid_retrieval_rrf",
    ops=("J2", "J3", "W2", "A6", "O2"),
    oracle=f"""
        WITH {_SQL_KMEANS}, qids AS (
            SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_RRF_NQ}
        ), dense AS (
            SELECT q.vec_id AS query_id, b.vec_id AS cand_id,
                   CAST(list_sum(list_transform(list_zip(q.units, b.units),
                        z -> z[1] * z[2])) AS DOUBLE)
                       / (sqrt(CAST(q.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))
                       AS cosine
            FROM kassign q
            JOIN kassign b ON q.cell = b.cell AND q.vec_id <> b.vec_id
            WHERE q.vec_id IN (SELECT vec_id FROM qids)
        ), dense_ranked AS (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, cand_id) AS dr
            FROM dense
        ), corpus AS (
            SELECT d.doc_id, list_distinct({_SQL_TOKS}) AS tk
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        ), posting AS (
            SELECT doc_id, unnest(tk) AS tok FROM corpus
        ), qposting AS (
            SELECT doc_id AS query_id, unnest(tk) AS tok FROM corpus
            WHERE doc_id IN (SELECT vec_id FROM qids)
        ), inter AS (
            SELECT q.query_id, p.doc_id AS cand_id,
                   CAST(COUNT(*) AS BIGINT) AS ni
            FROM qposting q JOIN posting p
              ON q.tok = p.tok AND p.doc_id <> q.query_id
            GROUP BY q.query_id, p.doc_id
        ), sizes AS (
            SELECT doc_id, CAST(len(tk) AS BIGINT) AS sz FROM corpus
        ), lex_ranked AS (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY jac DESC, cand_id) AS lr
            FROM (
                SELECT i.query_id, i.cand_id,
                       CAST(i.ni AS DOUBLE)
                           / CAST(sq.sz + sc.sz - i.ni AS DOUBLE) AS jac
                FROM inter i
                JOIN sizes sq ON sq.doc_id = i.query_id
                JOIN sizes sc ON sc.doc_id = i.cand_id
            )
        ), fused AS (
            SELECT COALESCE(d.query_id, l.query_id) AS query_id,
                   COALESCE(d.cand_id, l.cand_id) AS cand_id,
                   COALESCE(1.0 / ({_RRF_K} + d.dr), 0.0)
                       + COALESCE(1.0 / ({_RRF_K} + l.lr), 0.0) AS rrf_score,
                   CAST(COALESCE(d.dr, 0) AS INT) AS dense_rank,
                   CAST(COALESCE(l.lr, 0) AS INT) AS lex_rank
            FROM dense_ranked d
            FULL OUTER JOIN lex_ranked l
              ON d.query_id = l.query_id AND d.cand_id = l.cand_id
        )
        SELECT query_id, cand_id, rrf_score, dense_rank, lex_rank,
               CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY rrf_score DESC, cand_id) AS rn
              FROM fused)
        WHERE rn <= {_RRF_TOPK}
    """,
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: a dense arm (IVF within-cell cosine ranks over
    the embedding column) and a lexical arm (distinct-token Jaccard via
    an inverted-index join) fused with reciprocal rank fusion —
    score = sum over arms of 1/(60+rank), the standard way RAG stacks
    combine vector and keyword search without score calibration. A
    candidate surfaced by only one arm keeps that arm's term (full
    outer join; rank 0 = "not retrieved by this arm"). Retrieval corpus
    = documents that have embeddings (doc_id = vec_id).

    Scale: the dense arm inherits IVF's within-cell equi-join; the
    lexical arm is a postings-list join (query tokens x corpus
    postings — cost tracks posting sizes, never |Q| x |corpus|); the
    fusion joins two already-top-ranked slates per query. RRF itself
    is two IEEE divisions and one add per row — deterministic, so the
    whole hybrid stack hash-matches the oracle."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_units_corpus(emb, sf_dir)
    qids = emb.select("vec_id").orderBy("vec_id").limit(_RRF_NQ)

    q_side = assigned.join(
        F.broadcast(qids), "vec_id", "left_semi"
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("units").alias("qu"),
        F.col("norm2").alias("qn"),
        "cell",
    )
    c_side = assigned.select(
        F.col("vec_id").alias("cand_id"),
        F.col("units").alias("cu"),
        F.col("norm2").alias("cn"),
        "cell",
    )
    dense = (
        q_side.join(c_side, "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            cosine_fixed(F.col("qu"), F.col("cu"), F.col("qn"), F.col("cn")).alias(
                "cosine"
            ),
        )
    )
    wd = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "cand_id")
    dense_ranked = dense.select(
        "query_id", "cand_id", F.row_number().over(wd).alias("dr")
    )

    corpus = (
        load(spark, sf_dir, "documents")
        .join(emb.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi")
        .select("doc_id", F.array_distinct(tokens("text")).alias("tk"))
    )
    posting = corpus.select("doc_id", F.explode("tk").alias("tok"))
    qposting = corpus.join(
        F.broadcast(qids.select(F.col("vec_id").alias("doc_id"))),
        "doc_id",
        "left_semi",
    ).select(
        F.col("doc_id").alias("query_id"), F.explode("tk").alias("tok")
    )
    inter = (
        qposting.join(posting, "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", F.col("doc_id").alias("cand_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("ni"))
    )
    sizes = corpus.select("doc_id", F.size("tk").cast("long").alias("sz"))
    lex = (
        inter.join(
            sizes.select(F.col("doc_id").alias("query_id"), F.col("sz").alias("qsz")),
            "query_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("cand_id"), F.col("sz").alias("csz")),
            "cand_id",
        )
        .select(
            "query_id",
            "cand_id",
            (
                F.col("ni").cast("double")
                / (F.col("qsz") + F.col("csz") - F.col("ni")).cast("double")
            ).alias("jac"),
        )
    )
    wl = W.partitionBy("query_id").orderBy(F.col("jac").desc(), "cand_id")
    lex_ranked = lex.select(
        "query_id", "cand_id", F.row_number().over(wl).alias("lr")
    )

    d = dense_ranked.select(
        F.col("query_id").alias("dq"), F.col("cand_id").alias("dc"), "dr"
    )
    l = lex_ranked.select(
        F.col("query_id").alias("lq"), F.col("cand_id").alias("lc"), "lr"
    )
    fused = d.join(
        l, (F.col("dq") == F.col("lq")) & (F.col("dc") == F.col("lc")), "full"
    ).select(
        F.coalesce(F.col("dq"), F.col("lq")).alias("query_id"),
        F.coalesce(F.col("dc"), F.col("lc")).alias("cand_id"),
        (
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("dr")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lr")), F.lit(0.0))
        ).alias("rrf_score"),
        F.coalesce(F.col("dr"), F.lit(0)).cast("int").alias("dense_rank"),
        F.coalesce(F.col("lr"), F.lit(0)).cast("int").alias("lex_rank"),
    )
    wf = W.partitionBy("query_id").orderBy(F.col("rrf_score").desc(), "cand_id")
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= _RRF_TOPK)
        .select(
            "query_id", "cand_id", "rrf_score", "dense_rank", "lex_rank", "rank"
        )
    )


_PHRASE = ("order", "fast")  # the exact phrase to locate


@register(
    "phrase_search_positions",
    ops=("N3", "J2", "A1", "O1"),
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
        ), pos AS (
            SELECT doc_id, unnest(tk) AS tok,
                   generate_subscripts(tk, 1) AS p
            FROM t
        ), hits AS (
            SELECT a.doc_id, a.p AS start_pos
            FROM pos a JOIN pos b
              ON a.doc_id = b.doc_id AND b.p = a.p + 1
            WHERE a.tok = '{_PHRASE[0]}' AND b.tok = '{_PHRASE[1]}'
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(MIN(start_pos) AS BIGINT) AS first_pos
        FROM hits
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def phrase_search_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional inverted index: the
    phrase "order fast" is found by equi-joining the two terms'
    postings on (doc, adjacent positions) — how every full-text
    engine answers quoted queries without rescanning documents. The
    1-based position comes from posexplode (+1), matching DuckDB's
    generate_subscripts.

    Scale: each term's postings are FILTERED before the join (cost
    tracks the rarer term's posting list, the classic phrase-query
    bound), and the join is equi on (doc_id, position) — at 100 TB
    the postings table is the persisted index, bucketed by term, and
    this query never touches the corpus text."""
    t = load(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(tokens("text")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    a = t.filter(F.col("tok") == _PHRASE[0]).select(
        "doc_id", F.col("p").alias("pa")
    )
    b = t.filter(F.col("tok") == _PHRASE[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("p").alias("pb")
    )
    hits = a.join(
        b, (F.col("doc_id") == F.col("doc_b")) & (F.col("pb") == F.col("pa") + 1)
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("pa").cast("long").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


# ---- KMV (k-minimum-values) set sketches ---------------------------

_KMV_K = 256
_KMV_GROUP_A = tuple(f"src{i}" for i in range(10))  # first half of sources


@register(
    "kmv_set_intersection",
    ops=("A2", "A6", "J2", "O2", "U1"),
    oracle=f"""
        WITH toks AS (
            SELECT CASE WHEN source IN {_KMV_GROUP_A} THEN 'A' ELSE 'B' END AS grp,
                   unnest(list_distinct({_SQL_TOKS})) AS tok
            FROM documents
        ), hashes AS (
            SELECT DISTINCT grp, {sql_portable_hash31('tok')} AS h FROM toks
        ), kmv_a AS (
            SELECT h FROM hashes WHERE grp = 'A' ORDER BY h LIMIT {_KMV_K}
        ), kmv_b AS (
            SELECT h FROM hashes WHERE grp = 'B' ORDER BY h LIMIT {_KMV_K}
        ), union_h AS (
            SELECT DISTINCT h FROM hashes
        ), kmv_u AS (
            SELECT h FROM union_h ORDER BY h LIMIT {_KMV_K}
        ), exact AS (
            SELECT CAST(COUNT(DISTINCT CASE WHEN grp = 'A' THEN h END) AS BIGINT) AS card_a,
                   CAST(COUNT(DISTINCT CASE WHEN grp = 'B' THEN h END) AS BIGINT) AS card_b,
                   CAST(COUNT(DISTINCT h) AS BIGINT) AS card_union
            FROM hashes
        ), tails AS (
            SELECT (SELECT MAX(h) FROM kmv_a) AS hk_a,
                   (SELECT MAX(h) FROM kmv_b) AS hk_b,
                   (SELECT MAX(h) FROM kmv_u) AS hk_u,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM kmv_u u
                    WHERE EXISTS (SELECT 1 FROM kmv_a a WHERE a.h = u.h)
                      AND EXISTS (SELECT 1 FROM kmv_b b WHERE b.h = u.h)) AS n_both
        )
        SELECT CAST({_KMV_K} AS BIGINT) AS k,
               e.card_a AS exact_card_a,
               e.card_b AS exact_card_b,
               e.card_union AS exact_card_union,
               CAST(({_KMV_K} - 1) AS DOUBLE) * 2147483647.0
                   / CAST(t.hk_a AS DOUBLE) AS est_card_a,
               CAST(({_KMV_K} - 1) AS DOUBLE) * 2147483647.0
                   / CAST(t.hk_b AS DOUBLE) AS est_card_b,
               CAST(({_KMV_K} - 1) AS DOUBLE) * 2147483647.0
                   / CAST(t.hk_u AS DOUBLE) AS est_card_union,
               CAST(t.n_both AS DOUBLE) / CAST({_KMV_K} AS DOUBLE) AS kmv_jaccard
        FROM exact e CROSS JOIN tails t
    """,
)
def kmv_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values sketches over two source-group vocabularies —
    the set sketch that supports INTERSECTION estimates, which HLL
    structurally cannot (union-only): keep each set's k smallest
    distinct hashes; cardinality ≈ (k-1)*P / h_k, and the Jaccard
    estimate is the fraction of the union's bottom-k present in both
    sides' sketches. The portable integer hash makes every step —
    bottom-k, tail values, membership counts — bit-identical to the
    oracle, and the sketch is mergeable (union of bottom-k sets,
    re-truncated) like every summary in functions/sketches.py. Exact
    cardinalities ride along to grade the estimates.

    Scale: per-set distinct hashes are one dedup shuffle; bottom-k is
    a TakeOrdered (never a global sort materialization); membership
    joins touch k rows. The full-corpus distinct sets exist here only
    for grading — a deployment keeps just 3*k integers."""
    toks = load(spark, sf_dir, "documents").select(
        F.when(F.col("source").isin(*_KMV_GROUP_A), "A")
        .otherwise("B")
        .alias("grp"),
        F.explode(F.array_distinct(tokens("text"))).alias("tok"),
    )
    hashes = toks.select(
        "grp", portable_hash31(F.col("tok")).alias("h")
    ).distinct()
    kmv_a = hashes.filter(F.col("grp") == "A").select("h").orderBy("h").limit(_KMV_K)
    kmv_b = hashes.filter(F.col("grp") == "B").select("h").orderBy("h").limit(_KMV_K)
    kmv_u = hashes.select("h").distinct().orderBy("h").limit(_KMV_K)
    exact = hashes.agg(
        F.countDistinct(F.when(F.col("grp") == "A", F.col("h"))).alias("exact_card_a"),
        F.countDistinct(F.when(F.col("grp") == "B", F.col("h"))).alias("exact_card_b"),
        F.countDistinct("h").alias("exact_card_union"),
    )
    n_both = (
        kmv_u.join(kmv_a.withColumnRenamed("h", "ha"), F.col("h") == F.col("ha"), "left_semi")
        .join(kmv_b.withColumnRenamed("h", "hb"), F.col("h") == F.col("hb"), "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    tails = (
        kmv_a.agg(F.max("h").alias("hk_a"))
        .crossJoin(kmv_b.agg(F.max("h").alias("hk_b")))
        .crossJoin(kmv_u.agg(F.max("h").alias("hk_u")))
        .crossJoin(n_both)
    )
    p = 2147483647.0
    est = lambda c: F.lit(float(_KMV_K - 1)) * F.lit(p) / F.col(c).cast("double")
    return exact.crossJoin(F.broadcast(tails)).select(
        F.lit(_KMV_K).cast("long").alias("k"),
        F.col("exact_card_a").cast("long").alias("exact_card_a"),
        F.col("exact_card_b").cast("long").alias("exact_card_b"),
        F.col("exact_card_union").cast("long").alias("exact_card_union"),
        est("hk_a").alias("est_card_a"),
        est("hk_b").alias("est_card_b"),
        est("hk_u").alias("est_card_union"),
        (F.col("n_both").cast("double") / F.lit(float(_KMV_K))).alias("kmv_jaccard"),
    )


_COOC_WIN = 3  # +-token co-occurrence window
_COOC_TOPK = 50


@register(
    "window_cooccurrence_lift",
    ops=("N3", "J2", "A1", "A5", "O1", "O2"),
    oracle=f"""
        WITH pos AS (
            SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS p
            FROM (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents)
        ), n_tok AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pos
        ), unigram AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM pos GROUP BY tok
        ), pairs AS (
            SELECT a.tok AS tok_a, b.tok AS tok_b,
                   CAST(COUNT(*) AS BIGINT) AS f_ab
            FROM pos a JOIN pos b
              ON a.doc_id = b.doc_id
             AND b.p > a.p AND b.p <= a.p + {_COOC_WIN}
             AND a.tok < b.tok
            GROUP BY a.tok, b.tok
        )
        SELECT p.tok_a, p.tok_b, p.f_ab,
               CAST(p.f_ab AS DOUBLE) * CAST(t.n AS DOUBLE)
                   / (CAST(fa.f AS DOUBLE) * CAST(fb.f AS DOUBLE)) AS lift
        FROM pairs p
        JOIN unigram fa ON p.tok_a = fa.tok
        JOIN unigram fb ON p.tok_b = fb.tok
        CROSS JOIN n_tok t
        WHERE p.f_ab >= 5
        ORDER BY lift DESC, p.tok_a, p.tok_b
        LIMIT {_COOC_TOPK}
    """,
)
def window_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token co-occurrence with PMI-style lift (kept in
    ratio space — exp(PMI), no logs, so BIGINT-exact): pairs appearing
    within ±3 tokens more often than their unigram frequencies
    predict. This is the statistic word-vector and collocation
    pipelines are built on (the skip-gram co-occurrence matrix's
    strongest entries).

    Scale: the positional self-join is keyed on doc_id with the
    window as a residual band (per-doc positions bound the fan-out to
    n_tokens * window, linear in the corpus); unigram counts broadcast
    back; the support floor (f_ab >= 5) prunes the pair table before
    ranking; top-k is TakeOrderedAndProject."""
    # Four consumers (corpus total, unigrams, both join sides) derive
    # from this posexplode; at gate scale it ran in the scan's one
    # split (r11 profile: 0.77 s single-task stage). Spread the narrow
    # doc projection before the fan-out; identity at real scale.
    pos = spread(
        load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    ).select(
        "doc_id", F.posexplode(tokens("text")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    n_tok = pos.agg(F.count(F.lit(1)).cast("long").alias("n"))
    unigram = pos.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("f"))
    a = pos.select("doc_id", F.col("p").alias("pa"), F.col("tok").alias("tok_a"))
    b = pos.select(
        F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"), F.col("tok").alias("tok_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("pb") > F.col("pa"))
            & (F.col("pb") <= F.col("pa") + _COOC_WIN)
            & (F.col("tok_a") < F.col("tok_b")),
        )
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("f_ab"))
        .filter(F.col("f_ab") >= 5)
    )
    fa = unigram.select(F.col("tok").alias("tok_a"), F.col("f").alias("f_a"))
    fb = unigram.select(F.col("tok").alias("tok_b"), F.col("f").alias("f_b"))
    return (
        pairs.join(F.broadcast(fa), "tok_a")
        .join(F.broadcast(fb), "tok_b")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "tok_a",
            "tok_b",
            "f_ab",
            (
                F.col("f_ab").cast("double")
                * F.col("n").cast("double")
                / (F.col("f_a").cast("double") * F.col("f_b").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "tok_a", "tok_b")
        .limit(_COOC_TOPK)
    )


_SYL_RE = "[aeiouyAEIOUY]+"  # vowel groups ~ syllables (the classic heuristic)
_SENT_RE = "[.!?]+"


@register(
    "text_readability_scores",
    ops=("F1", "A1", "O1"),
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   CAST(len({_SQL_TOKS}) AS BIGINT) AS n_words,
                   CAST(GREATEST(len(regexp_extract_all(text, '{_SENT_RE}')), 1)
                        AS BIGINT) AS n_sentences,
                   CAST(GREATEST(len(regexp_extract_all(text, '{_SYL_RE}')), 1)
                        AS BIGINT) AS n_syllables
            FROM documents
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               206.835
                   - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                   - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                   AS flesch_score
        FROM m
        WHERE n_words > 0
        ORDER BY doc_id
    """,
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from the classic counting
    heuristics (vowel-group syllables, terminal-punctuation
    sentences) — the readability feature quality classifiers and
    curriculum schedulers consume. The score is a fixed IEEE
    expression over three BIGINT counts (identical literals both
    engines), so even this "fuzzy" linguistic metric hash-matches;
    zero-sentence/zero-syllable degenerates clamp to 1 so the ratios
    stay finite.

    Scale: three regexp counts per row, no shuffle — the cheapest
    kind of corpus feature; at 100 TB it rides the same scan as every
    other per-row gate."""
    text = F.col("text")
    n_words = F.size(tokens("text")).cast("long")
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(_SENT_RE), F.lit(0))), F.lit(1)
    ).cast("long")
    n_syllables = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(_SYL_RE), F.lit(0))), F.lit(1)
    ).cast("long")
    m = load(spark, sf_dir, "documents").select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    )
    return (
        m.filter(F.col("n_words") > 0)
        .select(
            "doc_id",
            "n_words",
            "n_sentences",
            "n_syllables",
            (
                F.lit(206.835)
                - F.lit(1.015)
                * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
                - F.lit(84.6)
                * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double"))
            ).alias("flesch_score"),
        )
        .orderBy("doc_id")
    )


_HEAPS_CKPT = 50  # docs per vocabulary checkpoint


@register(
    "vocabulary_growth_heaps",
    ops=("A1", "A5", "W2", "O1"),
    oracle=f"""
        WITH occ AS (
            SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
        ), first_seen AS (
            SELECT tok, CAST(MIN(doc_id) // {_HEAPS_CKPT} AS BIGINT) AS first_bin
            FROM occ GROUP BY tok
        ), tok_mass AS (
            SELECT CAST(doc_id // {_HEAPS_CKPT} AS BIGINT) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n_toks
            FROM occ GROUP BY doc_id // {_HEAPS_CKPT}
        ), vocab_mass AS (
            SELECT first_bin AS bin, CAST(COUNT(*) AS BIGINT) AS n_new
            FROM first_seen GROUP BY first_bin
        ), bins AS (
            SELECT t.bin, t.n_toks, COALESCE(v.n_new, 0) AS n_new
            FROM tok_mass t LEFT JOIN vocab_mass v ON t.bin = v.bin
        )
        SELECT bin AS checkpoint,
               CAST(SUM(n_toks) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_tokens,
               CAST(SUM(n_new) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_vocab
        FROM bins
        ORDER BY checkpoint
    """,
)
def vocabulary_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct vocabulary vs
    cumulative token mass at every {_HEAPS_CKPT}-doc checkpoint — the
    sublinear curve that tells a corpus builder when new data stops
    buying new vocabulary. Cumulative distinct is NOT re-counted per
    checkpoint: each token contributes to the checkpoint of its FIRST
    document (min doc_id), so the curve is two cheap aggregates plus
    a cumulative window over the bin axis.

    Scale: first-occurrence is one token-keyed MIN (map-side
    combined); per-bin masses likewise; the window runs over the
    bounded checkpoint axis. The naive per-checkpoint distinct-count
    would rescan the corpus K times."""
    occ = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    first_seen = occ.groupBy("tok").agg(
        F.expr(f"min(doc_id) DIV {_HEAPS_CKPT}").alias("first_bin")
    )
    tok_mass = occ.groupBy(
        F.expr(f"doc_id DIV {_HEAPS_CKPT}").alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_toks"))
    vocab_mass = first_seen.groupBy(
        F.col("first_bin").alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    bins = tok_mass.join(vocab_mass, "bin", "left").select(
        "bin", "n_toks", F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new")
    )
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    return bins.select(
        F.col("bin").alias("checkpoint"),
        F.sum("n_toks").over(w).cast("long").alias("cum_tokens"),
        F.sum("n_new").over(w).cast("long").alias("cum_vocab"),
    ).orderBy("checkpoint")


_RISING_SPLIT = 250  # doc_id boundary between "older" and "recent" halves
_RISING_TOPK = 30


@register(
    "top_rising_terms",
    ops=("A1", "A3", "J3", "O1", "O2"),
    oracle=f"""
        WITH occ AS (
            SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
        ), split AS (
            SELECT tok,
                   CAST(SUM(CASE WHEN doc_id < {_RISING_SPLIT} THEN 1 ELSE 0 END)
                        AS BIGINT) AS f_old,
                   CAST(SUM(CASE WHEN doc_id >= {_RISING_SPLIT} THEN 1 ELSE 0 END)
                        AS BIGINT) AS f_new
            FROM occ GROUP BY tok
        )
        SELECT tok AS term, f_old, f_new,
               CAST(f_new + 1 AS DOUBLE) / CAST(f_old + 1 AS DOUBLE) AS rise_ratio
        FROM split
        WHERE f_new >= 5
        ORDER BY rise_ratio DESC, tok
        LIMIT {_RISING_TOPK}
    """,
)
def top_rising_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending vocabulary: terms whose frequency in the recent half
    of the corpus most out-grows their older-half frequency
    (add-one-smoothed ratio, so brand-new terms rank without dividing
    by zero) — the drift monitor a continuously-collected corpus runs
    to catch topic shift before it skews a training mix. Integer
    counts, one smoothed ratio, deterministic top-k.

    Scale: one token-keyed conditional aggregate (both halves in the
    same pass — never two corpus scans), a support floor, and a
    TakeOrderedAndProject."""
    occ = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    split = occ.groupBy("tok").agg(
        F.sum(F.when(F.col("doc_id") < _RISING_SPLIT, 1).otherwise(0))
        .cast("long")
        .alias("f_old"),
        F.sum(F.when(F.col("doc_id") >= _RISING_SPLIT, 1).otherwise(0))
        .cast("long")
        .alias("f_new"),
    )
    return (
        split.filter(F.col("f_new") >= 5)
        .select(
            F.col("tok").alias("term"),
            "f_old",
            "f_new",
            (
                (F.col("f_new") + 1).cast("double")
                / (F.col("f_old") + 1).cast("double")
            ).alias("rise_ratio"),
        )
        .orderBy(F.col("rise_ratio").desc(), "term")
        .limit(_RISING_TOPK)
    )


# ---------------------------------------------------------------------------
# Cross-document repeated-span detection (exact-substring dedup family)
# ---------------------------------------------------------------------------

CROSS_DOC_NGRAM = DECONTAM_NGRAM  # span unit: word 4-grams (see note there)
CROSS_DOC_TAU = 0.3  # max fraction of tokens inside cross-doc-duplicated spans


@register(
    "cross_doc_ngram_spans",
    bench=True,
    ops=("N2", "A1", "A2", "J1", "J3"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), pos AS (
            SELECT doc_id,
                   unnest(list_transform({_sql_shingles_n(CROSS_DOC_NGRAM)},
                       x -> {sql_portable_hash31('x')})) AS sh,
                   unnest(generate_series(1, greatest(len(t) - {CROSS_DOC_NGRAM - 1}, 0))) AS p
            FROM toks
        ), dup AS (
            SELECT sh FROM pos GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
        ), hits AS (
            SELECT pos.doc_id, pos.p FROM pos JOIN dup USING (sh)
        ), agg_pos AS (
            SELECT doc_id, COUNT(*) AS n_dup FROM hits GROUP BY doc_id
        ), cov AS (
            SELECT doc_id, COUNT(DISTINCT p + o) AS n_cov
            FROM hits CROSS JOIN (SELECT unnest(generate_series(0, {CROSS_DOC_NGRAM - 1})) AS o) s
            GROUP BY doc_id
        ), base AS (
            SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks
        )
        SELECT b.doc_id, b.n_tokens,
               CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup_ngrams,
               CAST(COALESCE(c.n_cov, 0) AS BIGINT) AS n_covered_tokens,
               CASE WHEN b.n_tokens > 0
                    THEN CAST(COALESCE(c.n_cov, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
                    ELSE 0.0 END AS dup_coverage_ratio,
               CASE WHEN b.n_tokens > 0
                    THEN (CAST(COALESCE(c.n_cov, 0) AS DOUBLE)
                          / CAST(b.n_tokens AS DOUBLE)) <= {CROSS_DOC_TAU}
                    ELSE TRUE END AS keep
        FROM base b
        LEFT JOIN agg_pos a USING (doc_id)
        LEFT JOIN cov c USING (doc_id)
    """,
)
def cross_doc_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection — the exact-substring
    dedup signal (Lee et al. 2022's "Deduplicating Training Data Makes
    Language Models Better" family, at word-n-gram granularity instead
    of a suffix array): for every document, how many of its word
    4-gram positions also occur in at least one OTHER document, how
    many token positions those duplicated spans cover (union of
    [p, p+3] intervals, counted as distinct indices — overlapping
    spans are not double-counted), and the keep/drop verdict at
    coverage tau=0.3. Differs from repeated_ngram_ratio (intra-doc
    repetition) and decontamination_overlap (overlap with a held-out
    set): this one finds boilerplate shared ACROSS the training corpus
    itself.

    Scale: shingle-hash posexplode is per-row; the duplicated-shingle
    set is one map-side-combined aggregate on the hash (distinct-doc
    count >= 2); the hit join is hash-partitioned on the shingle — the
    natural key, collision-bounded, never all-pairs. Coverage is an
    interval union computed with one lag window over positions sorted
    per doc: every span has fixed length L, so union size is
    sum(min(L, p_i - p_(i-1))) — no 4x row explode, no distinct
    shuffle, and the n_dup count rides the same doc_id partitioning
    (the groupBy reuses the window's exchange). Every shuffle key
    (shingle hash, doc_id) is high-cardinality; stop-phrase skew is
    capped because dup membership is one row per distinct shingle."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sh_arr = F.transform(word_shingles("text", n=CROSS_DOC_NGRAM), portable_hash31)
    # spread: the shingle posexplode amplifies each doc into ~n_tokens
    # rows, so a single-split scan serializes it (r11 profile: 0.9 s
    # one-task stage). The spread exchange is written once and READ by
    # both consumers (dup aggregate + hit join — runtime-verified via
    # REST stage metrics: one 0.85 MB map stage, two reduce stages).
    # The explode itself still runs once per consumer: column pruning
    # gives the dup branch a narrower projection ([doc_id, sh] vs
    # [doc_id, p, sh]), so the subtrees never canonicalize equal — but
    # both run at full parallelism above the spread. NOT keyed on the
    # shingle (an earlier r11 draft repartition_for_key'd "sh" here):
    # the hit join broadcasts `dup`, so a shingle-keyed exchange of the
    # full pos relation serves no consumer — measured pure overhead.
    pos = (
        spread(docs, "doc_id")
        .select("doc_id", F.posexplode(sh_arr).alias("p0", "sh"))
        .select("doc_id", (F.col("p0") + 1).alias("p"), "sh")
    )
    # "appears in >= 2 distinct docs" as min != max, NOT
    # count_distinct >= 2: the distinct form expands partial state to
    # every (sh, doc_id) pair in the MAP-SIDE hash table (scan-task-
    # sized, untouchable by shuffle partitioning) and measured 45x on
    # 10x docs at sf100 (6.1 s -> 276.4 s, the whole decade3 overshoot);
    # min/max is O(1) state per group and map-side combinable. Same
    # predicate, same rows — the DuckDB oracle keeps COUNT(DISTINCT).
    dup = (
        pos.groupBy("sh")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("sh")
    )
    hits = pos.join(dup, "sh").select("doc_id", "p")
    # positions are distinct per doc (posexplode index), so the union of
    # the fixed-length [p, p+L-1] intervals is sum(min(L, p - lag(p)))
    # over positions sorted within the doc; first position contributes L
    span_w = W.partitionBy("doc_id").orderBy("p")
    delta = F.coalesce(
        F.least(
            F.lit(CROSS_DOC_NGRAM).cast("long"),
            (F.col("p") - F.lag("p").over(span_w)).cast("long"),
        ),
        F.lit(CROSS_DOC_NGRAM).cast("long"),
    )
    per_doc = (
        hits.withColumn("delta", delta)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup"),
            F.sum("delta").alias("n_cov"),
        )
    )
    base = docs.select("doc_id", F.size(tokens("text")).cast("long").alias("n_tokens"))
    n_cov = F.coalesce(F.col("n_cov"), F.lit(0))
    ratio = F.when(
        F.col("n_tokens") > 0,
        n_cov.cast("double") / F.col("n_tokens").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_ngrams"),
            n_cov.cast("long").alias("n_covered_tokens"),
            ratio.alias("dup_coverage_ratio"),
            F.when(F.col("n_tokens") > 0, ratio <= CROSS_DOC_TAU)
            .otherwise(F.lit(True))
            .alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Substring-granularity cross-doc dedup (character spans, anchor-sampled)
# ---------------------------------------------------------------------------

CHAR_SPAN_TAU = 0.3  # max fraction of chars inside cross-doc repeated spans

_SQL_CHAR_SPANS_PACK = SPAN_PACK  # (len, start) argmax packing base


def _sql_island_ctes() -> str:
    """flagged/isl/spans CTEs merging a prior ``hits`` (doc_id, i) CTE
    into maximal disjoint islands — the SQL twin of
    llmops.dedup.merge_hit_islands, shared by every oracle that
    consumes repeated-span geometry."""
    K = CHAR_ANCHOR_K
    return f"""flagged AS (
            SELECT doc_id, i,
                   CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > {K}
                        THEN 1 ELSE 0 END AS ns
            FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY i)
        ), isl AS (
            SELECT doc_id, i,
                   SUM(ns) OVER (PARTITION BY doc_id ORDER BY i) AS island
            FROM flagged
        ), spans AS (
            SELECT doc_id, MIN(i) AS s,
                   CAST(MAX(i) - MIN(i) + {K} AS BIGINT) AS len,
                   CAST(COUNT(*) AS BIGINT) AS na,
                   CAST(MIN(i) + MAX(i) - MIN(i) + {K} - 1 AS BIGINT) AS e
            FROM isl GROUP BY doc_id, island
        )"""


def _sql_cross_doc_hits_ctes() -> str:
    """anch/dup/hits CTEs: anchor grams repeated across >= 2 docs —
    the SQL twin of llmops.dedup.char_span_islands' candidate stage."""
    return f"""anch AS ({sql_char_anchor_cte()}),
        dup AS (
            SELECT g FROM anch GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
        ), hits AS (
            SELECT a.doc_id, a.i FROM anch a JOIN dup USING (g)
        )"""


def _sql_char_spans_per_doc_ctes() -> str:
    """The CTE chain through per_doc, shared by the span-stats and
    span-extract oracles (one source of truth for the island SQL)."""
    P = SPAN_PACK
    return f"""{_sql_cross_doc_hits_ctes()}, {_sql_island_ctes()}, per_doc AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_spans,
                   CAST(SUM(na) AS BIGINT) AS n_hit_anchors,
                   CAST(SUM(len) AS BIGINT) AS covered_chars,
                   MAX(len * {P} - s) AS pk
            FROM spans GROUP BY doc_id
        )"""


def _sql_char_spans_oracle() -> str:
    P = SPAN_PACK
    return f"""
        WITH {_sql_char_spans_per_doc_ctes()}
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS n_chars,
               COALESCE(p.n_hit_anchors, 0) AS n_hit_anchors,
               COALESCE(p.n_spans, 0) AS n_spans,
               COALESCE(p.covered_chars, 0) AS covered_chars,
               COALESCE((p.pk + {P}) // {P}, 0) AS longest_len,
               COALESCE(((p.pk + {P}) // {P}) * {P} - p.pk, 0) AS longest_start,
               CASE WHEN length(d.text) > 0
                    THEN CAST(COALESCE(p.covered_chars, 0) AS DOUBLE)
                         / CAST(length(d.text) AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END AS dup_coverage_ratio,
               CASE WHEN length(d.text) > 0
                    THEN (CAST(COALESCE(p.covered_chars, 0) AS DOUBLE)
                          / CAST(length(d.text) AS DOUBLE)) <= {CHAR_SPAN_TAU}
                    ELSE TRUE END AS keep
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


@register(
    "repeated_char_spans",
    bench=True,
    ops=("A1", "J1", "W2", "N2"),
    oracle=_sql_char_spans_oracle(),
)
def repeated_char_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-granularity cross-document repeated-substring spans —
    the suffix-array exact-substring dedup signal (Lee et al. 2022)
    re-expressed Spark-first: content-defined anchor grams
    (llmops.textops.char_anchor_grams — every 24-char gram whose
    portable hash is 0 mod 4) replace the suffix sort, cross-doc
    repetition is an equality groupBy on the gram STRING (exact — a
    hash bucket would admit false duplicates with no verify step),
    and each doc's matched [i, i+K-1] intervals are merged into
    maximal islands with ONE lag + ONE running-sum window over the
    same (doc_id, i) sort. Output per doc: hit-anchor count, merged
    span count, exact covered-char union, the longest merged span's
    length and 1-based start (longest-then-earliest, via int64
    (len, start) packing — no second window), coverage ratio, and the
    keep verdict at tau=0.3. Char granularity catches boilerplate
    that word-4-gram shingles (cross_doc_ngram_spans) miss when
    tokenization splits differently (markup, punctuation variants).

    Recall: a repeated span with m eligible gram positions is missed
    with probability (1-1/4)^m — content-defined selection means both
    copies pick identical anchors, so detection is all-or-nothing per
    span, never alignment-dependent.

    Scale: anchors are a fixed 1/4 of gram positions (the explode is
    a constant fraction of corpus bytes); the dup groupBy is
    map-side-combinable on a high-cardinality 24-char key; the hit
    join is hash-partitioned on the gram, collision-bounded, never
    all-pairs; both windows share one (doc_id, i) exchange+sort. A
    hot boilerplate gram contributes one dup row and per-doc hit rows
    only — no pair expansion anywhere.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sp = narrow(docs, memo_key=sf_dir + ":documents")
    return char_span_stats(docs, tau=CHAR_SPAN_TAU, spread=sp)


SPAN_EXTRACT_TOPK = 50


@register(
    "repeated_span_extracts",
    ops=("J1", "O2", "F1"),
    oracle=f"""
        WITH {_sql_char_spans_per_doc_ctes()},
        longest AS (
            SELECT doc_id,
                   ((pk + {SPAN_PACK}) // {SPAN_PACK}) AS span_len,
                   ((pk + {SPAN_PACK}) // {SPAN_PACK}) * {SPAN_PACK} - pk AS span_start
            FROM per_doc
        )
        SELECT l.doc_id,
               l.span_start,
               l.span_len,
               substr(d.text, CAST(l.span_start AS INT), CAST(l.span_len AS INT)) AS span_text
        FROM longest l JOIN documents d USING (doc_id)
        WHERE l.span_len > 0
        ORDER BY l.span_len DESC, l.doc_id
        LIMIT {SPAN_EXTRACT_TOPK}
    """,
)
def repeated_span_extracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The act half of the substring-dedup tier: materialize the
    corpus's worst repeated spans AS TEXT — the top-50 longest per-doc
    repeated character spans (repeated_char_spans semantics) with the
    literal substring cut from the owning document, the artifact a
    curation pass reviews before writing a strip rule. Deterministic
    order: span length desc, then doc_id.

    Scale: the span stats are the char_span_stats plan (see
    repeated_char_spans); the extraction is a TakeOrderedAndProject
    top-50 BEFORE the substr join back to documents, so full span
    texts are cut for 50 rows, never per-doc.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sp = narrow(docs, memo_key=sf_dir + ":documents")
    top = (
        char_span_stats(docs, tau=CHAR_SPAN_TAU, spread=sp)
        .filter(F.col("longest_len") > 0)
        .select("doc_id", "longest_start", "longest_len")
        .orderBy(F.desc("longest_len"), F.asc("doc_id"))
        .limit(SPAN_EXTRACT_TOPK)
    )
    return (
        top.join(docs, "doc_id")
        .select(
            "doc_id",
            F.col("longest_start").alias("span_start"),
            F.col("longest_len").alias("span_len"),
            F.col("text")
            .substr(F.col("longest_start").cast("int"), F.col("longest_len").cast("int"))
            .alias("span_text"),
        )
        .orderBy(F.desc("span_len"), F.asc("doc_id"))
    )


@register(
    "strip_repeated_spans",
    ops=("A1", "J1", "W2", "F1"),
    oracle=f"""
        WITH {_sql_char_spans_per_doc_ctes()},
        pre AS (
            SELECT doc_id,
                   COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s) + 1, 1) AS ss,
                   s - 1 AS se
            FROM spans
        ), tail AS (
            SELECT sp.doc_id, MAX(sp.e) + 1 AS ss, length(d.text) AS se
            FROM spans sp JOIN documents d USING (doc_id)
            GROUP BY sp.doc_id, length(d.text)
        ), seg AS (
            SELECT * FROM pre UNION ALL SELECT * FROM tail
        ), segtxt AS (
            SELECT sg.doc_id, sg.ss,
                   substr(d.text, CAST(sg.ss AS INT), CAST(sg.se - sg.ss + 1 AS INT)) AS t
            FROM seg sg JOIN documents d USING (doc_id)
            WHERE sg.ss <= sg.se
        ), agg AS (
            SELECT doc_id, string_agg(t, '' ORDER BY ss) AS cleaned
            FROM segtxt GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS n_chars,
               COALESCE(p.covered_chars, 0) AS n_chars_removed,
               CASE WHEN p.doc_id IS NOT NULL THEN COALESCE(a.cleaned, '')
                    ELSE d.text END AS text_cleaned
        FROM documents d
        LEFT JOIN per_doc p USING (doc_id)
        LEFT JOIN agg a USING (doc_id)
    """,
)
def strip_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup ACTION: rewrite every document with its
    cross-corpus repeated spans (repeated_char_spans islands) cut out
    — the Lee et al. 2022 prescription, where removing the repeated
    substring (not the whole document) is what preserves the unique
    remainder of partially-boilerplate docs. Output per doc: original
    length, removed-char count, and the cleaned text (untouched docs
    pass through verbatim; fully-covered docs become the empty
    string).

    Mechanics: islands are disjoint with >= 1 char between (the merge
    law in merge_hit_islands), so the kept text is the ordered concat
    of inter-island gap segments plus the tail — one lag window over
    islands emits each gap, a per-doc aggregate emits the tail, and
    the concat sorts each doc's few segments inside one
    array_sort(collect_list) (never a corpus-wide order).

    Scale: segment rows are O(islands), a tiny fraction of anchor
    rows; the substr cuts run on segment rows joined back to docs by
    doc_id — per-doc text travels through ONE join, not per anchor.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sp = narrow(docs, memo_key=sf_dir + ":documents")
    return strip_islands_text(docs, char_span_islands(docs, spread=sp))


CHAR_DECONTAM_TAU = 0.2  # max fraction of chars inside bench-shared spans


@register(
    "char_level_decontamination",
    ops=("A1", "J1", "W2"),
    oracle=f"""
        WITH anch AS ({sql_char_anchor_cte()}),
        bench AS (
            SELECT DISTINCT g FROM anch WHERE doc_id % {DECONTAM_BENCH_MOD} = 0
        ), hits AS (
            SELECT a.doc_id, a.i FROM anch a JOIN bench USING (g)
            WHERE a.doc_id % {DECONTAM_BENCH_MOD} <> 0
        ), {_sql_island_ctes()},
        per_doc AS (
            SELECT doc_id,
                   CAST(SUM(na) AS BIGINT) AS n_hit_anchors,
                   CAST(SUM(len) AS BIGINT) AS covered_chars
            FROM spans GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(length(d.text) AS BIGINT) AS n_chars,
               COALESCE(p.n_hit_anchors, 0) AS n_hit_anchors,
               COALESCE(p.covered_chars, 0) AS covered_chars,
               CASE WHEN length(d.text) > 0
                    THEN CAST(COALESCE(p.covered_chars, 0) AS DOUBLE)
                         / CAST(length(d.text) AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END AS contamination_ratio,
               COALESCE(p.n_hit_anchors, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
        WHERE d.doc_id % {DECONTAM_BENCH_MOD} <> 0
    """,
)
def char_level_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring benchmark decontamination — the GPT-3-style
    long-n-gram hygiene pass at CHARACTER granularity: a training doc
    is contaminated if it shares any 24-char exact substring with the
    held-out benchmark set (doc_id % 37 == 0 stands in, as in
    decontamination_overlap), with the shared-span char coverage and
    island geometry as the audit evidence. Char granularity catches
    leaks that word-shingle overlap misses when whitespace or
    punctuation differs (decontamination_overlap is the word-4-gram
    form; semantic_decontamination the embedding form — this
    completes the trio on the exactness axis).

    Scale: the benchmark anchor-gram set is broadcast (bounded by the
    same declared cap as decontamination_overlap); the corpus side is
    one anchor explode + broadcast semi-match, no corpus shuffle
    before the per-doc island windows. Detection inherits the anchor
    recall law: a shared span with m gram positions is missed with
    (3/4)^m.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_bench = F.col("doc_id") % DECONTAM_BENCH_MOD == 0
    assert_bounded(
        docs.filter(is_bench).select("doc_id"),
        DECONTAM_BENCH_DOC_CAP,
        "char_level_decontamination benchmark docs",
        once_key=sf_dir,
    )
    anch = char_anchor_grams(
        docs, spread=narrow(docs, memo_key=sf_dir + ":documents")
    )
    bench_g = anch.filter(is_bench).select("g").distinct()
    hits = (
        anch.filter(~is_bench)
        .join(F.broadcast(bench_g), "g")
        .select("doc_id", "i")
    )
    per_doc = (
        merge_hit_islands(hits, CHAR_ANCHOR_K)
        .groupBy("doc_id")
        .agg(
            F.sum("na").alias("n_hit_anchors"),
            F.sum("len").alias("covered_chars"),
        )
    )
    covered = F.coalesce(F.col("covered_chars"), F.lit(0).cast("long"))
    ratio = F.when(
        F.col("n_chars") > 0, covered.cast("double") / F.col("n_chars").cast("double")
    ).otherwise(F.lit(0.0))
    return (
        docs.filter(~is_bench)
        .select("doc_id", F.length("text").cast("long").alias("n_chars"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("n_hit_anchors"), F.lit(0).cast("long")).alias(
                "n_hit_anchors"
            ),
            covered.alias("covered_chars"),
            ratio.alias("contamination_ratio"),
            (F.coalesce(F.col("n_hit_anchors"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


BOILERPLATE_TOPK = 20


@register(
    "repeated_boilerplate_catalog",
    ops=("A1", "A2", "O2"),
    oracle=f"""
        WITH anch AS ({sql_char_anchor_cte()}),
        cat AS (
            SELECT g,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                   MIN(doc_id * {SPAN_PACK} + i) AS ex
            FROM anch GROUP BY g
            HAVING COUNT(DISTINCT doc_id) >= 2
        )
        SELECT g AS gram, n_docs, n_occurrences,
               ex // {SPAN_PACK} AS example_doc,
               ex % {SPAN_PACK} AS example_pos
        FROM cat
        ORDER BY n_docs DESC, n_occurrences DESC, gram
        LIMIT {BOILERPLATE_TOPK}
    """,
)
def repeated_boilerplate_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate mining: the top-20 cross-doc repeated
    anchor grams (see char_anchor_grams) by distinct-doc count, with
    total occurrences and a deterministic example site (smallest
    doc_id, then smallest position — one int64 (doc, pos) MIN, no
    window). The catalog names WHAT the repeated boilerplate is —
    repeated_char_spans reports WHERE it sits in each doc; together
    they are the inspect/act pair of the substring-dedup tier.

    Scale: one map-side-combinable groupBy on the gram string and a
    TakeOrderedAndProject top-20 — the catalog never materializes a
    global sort. Packing bound: doc_id < 2^32 and positions < 2^31
    keep doc_id*2^31+i inside int64.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    anch = char_anchor_grams(
        docs, spread=narrow(docs, memo_key=sf_dir + ":documents")
    )
    cat = (
        anch.groupBy("g")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.col("doc_id") * SPAN_PACK + F.col("i")).alias("ex"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return (
        cat.select(
            F.col("g").alias("gram"),
            "n_docs",
            "n_occurrences",
            F.expr(f"ex DIV {SPAN_PACK}").cast("long").alias("example_doc"),
            F.pmod(F.col("ex"), F.lit(SPAN_PACK)).cast("long").alias("example_pos"),
        )
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("gram"))
        .limit(BOILERPLATE_TOPK)
    )


# ---------------------------------------------------------------------------
# BM25 retrieval ranking (rational-idf form, exact across engines)
# ---------------------------------------------------------------------------

BM25_TOPK = 10  # docs returned per probe term
BM25_PROBES = 5  # probe vocabulary size
_BM25_SALTS = 64  # phase-1 fan-out of the per-term top-k


@register(
    "bm25_probe_ranking",
    bench=True,
    ops=("A1", "J1", "W2", "O2"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), dl AS (
            SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks
        ), stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS total_dl
            FROM dl
        ), tok AS (
            SELECT doc_id, unnest(t) AS term FROM toks
        ), tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM tok GROUP BY doc_id, term
        ), dft AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
        ), probe AS (
            SELECT term, df FROM dft CROSS JOIN stats
            WHERE df * 2 <= n_docs
            ORDER BY df DESC, term LIMIT {BM25_PROBES}
        ), scored AS (
            SELECT p.term, tf.doc_id, tf.tf, d.dl,
                   ((CAST(s.n_docs AS DOUBLE) - CAST(p.df AS DOUBLE) + 0.5)
                    / (CAST(p.df AS DOUBLE) + 0.5))
                   * ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
                      / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
                         * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
                            * (CAST(d.dl AS DOUBLE)
                               / (CAST(s.total_dl AS DOUBLE)
                                  / CAST(s.n_docs AS DOUBLE)))))) AS score
            FROM tf JOIN probe p USING (term)
            JOIN dl d ON tf.doc_id = d.doc_id
            CROSS JOIN stats s
        )
        SELECT term, doc_id, tf, dl, score, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY term
                  ORDER BY score DESC, doc_id) AS rn FROM scored)
        WHERE rn <= {BM25_TOPK}
    """,
)
def bm25_probe_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval ranking (k1=1.2, b=0.75) of the corpus against a
    deterministic probe vocabulary — the 5 most document-frequent
    terms that still appear in at most half the corpus (frequent
    enough to rank, not ubiquitous). The idf uses the rational
    Robertson form (N - df + 0.5)/(df + 0.5) WITHOUT the log: log is
    monotone, so per-term ranking is identical, and the score stays a
    pure-rational double — bit-identical cross-engine (every +,*,/ is
    exactly rounded and both plans evaluate the same tree; a libm log
    would differ in last ulps and break the hash gate).

    Scale: tf is one shuffle on (doc, term); df reuses it with a
    map-side-combined shuffle on term; probe terms and the (n_docs,
    total_dl) stats row are broadcast; doc length joins on doc_id.
    The per-term top-10 is TWO-PHASE — phase 1 takes a local top-10
    per (term, doc_id%64) salt partition, phase 2 merges 64x10 rows
    per term — because a direct per-term window would funnel every
    posting of a probe term through one reducer (df can be ~N/2: the
    textbook skew key). Result provably equals the single-window
    form: any global top-10 row is in its salt bucket's top-10."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # MEASURED REJECTION (r11, interleaved same-session A/B at sf0.1,
    # 5 passes/arm): spreading the scan and sharing one tokens()
    # exchange across dl/stats/tf — the profile's answer to three
    # serial single-task tokenize stages — benched 1.01 s -> 1.22 s
    # (0.82x). The tokenize passes are cheap relative to the exchange
    # of raw text plus the extra stage barrier AQE inserts; contrast
    # cross_doc_ngram_spans, whose shingle explode amplifies enough to
    # win 1.21x from the same transform. At real scale the scan has
    # splits and the branches parallelize by themselves.
    dl = docs.select("doc_id", F.size(tokens("text")).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    # DO-NOT-RETRY (r08, warm best-of-2 A/B at sf1/sf10/sf100): the
    # zero-shuffle per-row tf form (textops.term_counts, kept for
    # corpora where it wins) measured 1.53/7.04/63.6 s vs this groupBy
    # form's 1.26/3.73/62.3 s — Catalyst HOF lambda evaluation costs
    # more than the (doc_id, term) exchange it removes at every scale
    # measured here. The decade3 excess over the linear cap is the
    # FIXED-HEAP spill cliff of that exchange (tf stage isolated:
    # 2.4 s at 500k docs -> 26-55 s at 5M docs on the same 16g heap),
    # i.e. resources held constant while data decades up — on a
    # cluster sized with the data the per-partition group count is
    # constant and the stage stays linear.
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    probe = (
        dft.crossJoin(F.broadcast(stats))
        .filter(F.col("df") * 2 <= F.col("n_docs"))
        .orderBy(F.col("df").desc(), "term")
        .limit(BM25_PROBES)
        .select("term", "df")
    )
    n_d = F.col("n_docs").cast("double")
    df_d = F.col("df").cast("double")
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    avgdl = F.col("total_dl").cast("double") / n_d
    idf = (n_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5))
    score = idf * (
        (tf_d * F.lit(2.2))
        / (tf_d + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (dl_d / avgdl)))
    )
    scored = (
        tf.join(F.broadcast(probe), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("term", "doc_id", "tf", "dl", score.alias("score"))
    )
    order = (F.col("score").desc(), F.col("doc_id"))
    local = (
        scored.withColumn("__salt", F.pmod(F.col("doc_id"), F.lit(_BM25_SALTS)))
        .withColumn("__rn", F.row_number().over(W.partitionBy("term", "__salt").orderBy(*order)))
        .filter(F.col("__rn") <= BM25_TOPK)
        .drop("__salt", "__rn")
    )
    return (
        local.withColumn(
            "rank", F.row_number().over(W.partitionBy("term").orderBy(*order)).cast("int")
        )
        .filter(F.col("rank") <= BM25_TOPK)
        .select("term", "doc_id", "tf", "dl", "score", "rank")
    )


@register(
    "leakage_safe_split",
    ops=("J2", "A6", "A1", "P8"),
    oracle=f"""
        WITH RECURSIVE {_SQL_LSH_PAIRS}, edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ), reach(u, v) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.u, e.dst FROM reach r JOIN edges e ON r.v = e.src
        ), comp AS (
            SELECT u AS doc_id, MIN(v) AS component_id
            FROM reach GROUP BY u
        ), sized AS (
            SELECT c.doc_id, c.component_id,
                   CAST(COUNT(*) OVER (PARTITION BY c.component_id) AS BIGINT) AS n_members
            FROM comp c
        ), assigned AS (
            SELECT doc_id, component_id, n_members,
                   CASE WHEN {sql_portable_hash31("'csplit:' || CAST(component_id AS VARCHAR)")} % 100 < 90 THEN 'train'
                        WHEN {sql_portable_hash31("'csplit:' || CAST(component_id AS VARCHAR)")} % 100 < 95 THEN 'val'
                        ELSE 'test' END AS split,
                   CASE WHEN {sql_portable_hash31("'csplit:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
                        WHEN {sql_portable_hash31("'csplit:' || CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
                        ELSE 'test' END AS doc_split
            FROM sized
        )
        SELECT doc_id, component_id, n_members, split,
               (n_members > 1 AND split <> doc_split) AS rescued
        FROM assigned
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split — the leakage-proof form of
    deterministic_split: near-duplicate documents (the same
    LSH-verified >= tau closure dedup_connected_components computes)
    are assigned as a UNIT by hashing the component id, so a test
    document can never have a near-copy in train. ``rescued`` marks
    documents whose naive per-doc assignment would have split them
    away from their duplicates — the leakage the operator exists to
    prevent. The 'csplit:' salt keys this hash stream independently of
    every other doc_id hash in the pipeline.

    Scale: edges are the canonical LSH-verified pair set (O(band
    collisions), never all-pairs); component labels come from the
    min-label-propagation fixpoint (one shuffle per round,
    diameter-bounded); sizes are one count per component key;
    assignment is per-row hash arithmetic. Skew-safe: component ids
    are near-uniform (hash-min), and the per-component window is
    bounded by the largest dup cluster."""
    docs = load(spark, sf_dir, "documents")
    comp = connected_components(
        docs.select("doc_id"), _lsh_verified_pairs(spark, sf_dir)
    )
    sized = comp.withColumn(
        "n_members",
        F.count(F.lit(1)).over(W.partitionBy("component_id")).cast("long"),
    )

    def _split_of(col):
        h = portable_hash31(F.concat(F.lit("csplit:"), col.cast("string"))) % 100
        return F.when(h < 90, "train").when(h < 95, "val").otherwise("test")

    split = _split_of(F.col("component_id"))
    doc_split = _split_of(F.col("doc_id"))
    return sized.select(
        "doc_id",
        "component_id",
        "n_members",
        split.alias("split"),
        ((F.col("n_members") > 1) & (split != doc_split)).alias("rescued"),
    )


@register(
    "unigram_simpson_diversity",
    ops=("N2", "A1", "P8"),
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
        ), tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY doc_id, term
        ), agg AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(SUM(c * c) AS BIGINT) AS sum_sq
            FROM tf GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
               CASE WHEN a.n_tokens > 0
                    THEN 1.0 - CAST(a.sum_sq AS DOUBLE)
                               / CAST(a.n_tokens * a.n_tokens AS DOUBLE)
                    ELSE 0.0 END AS simpson_diversity,
               CASE WHEN a.n_tokens > 0
                    THEN CAST(a.n_tokens * a.n_tokens AS DOUBLE)
                         / CAST(a.sum_sq AS DOUBLE)
                    ELSE 0.0 END AS effective_vocab
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def unigram_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document by the Gini-Simpson index
    1 - sum(p_i^2) and its inverse-Simpson 'effective vocabulary size'
    n^2/sum(c_i^2) — the entropy-family quality signal that needs NO
    log: degenerate/boilerplate text concentrates probability mass on
    few tokens and scores near 0 (diversity) / 1 (effective vocab).
    All mass terms stay BIGINT (sum of squared counts is exact in any
    summation order — the float-summation nondeterminism that bars
    Shannon entropy from the hash gate never appears); the two final
    divisions are single exactly-rounded double ops.

    Scale: one shuffle on (doc, term), one map-side-combined per-doc
    aggregate, a left join back for empty docs. Complements
    repeated_ngram_ratio (order-sensitive repetition) with an
    order-free concentration measure."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
    )
    n = F.col("n_tokens")
    nn_d = (n * n).cast("double")
    ssq_d = F.col("sum_sq").cast("double")
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce(n, F.lit(0)).cast("long").alias("n_tokens"),
        F.when(n > 0, F.lit(1.0) - ssq_d / nn_d).otherwise(F.lit(0.0)).alias(
            "simpson_diversity"
        ),
        F.when(n > 0, nn_d / ssq_d).otherwise(F.lit(0.0)).alias("effective_vocab"),
    )


@register(
    "source_unigram_cosine",
    ops=("N2", "A1", "J2", "O1"),
    oracle=f"""
        WITH tok AS (
            SELECT source, unnest({_SQL_TOKS}) AS term FROM documents
        ), tf AS (
            SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY source, term
        ), norms AS (
            SELECT source, SUM(CAST(c AS HUGEINT) * c) AS ssq
            FROM tf GROUP BY source
        ), dots AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS BIGINT) AS dot
            FROM tf a JOIN tf b ON a.term = b.term AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT d.source_a, d.source_b, d.dot,
               d.dot / (sqrt(CAST(na.ssq AS DOUBLE)) * sqrt(CAST(nb.ssq AS DOUBLE))) AS cosine
        FROM dots d
        JOIN norms na ON na.source = d.source_a
        JOIN norms nb ON nb.source = d.source_b
        ORDER BY source_a, source_b
    """,
)
def source_unigram_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-source unigram COUNT
    vectors — the corpus-mixture diagnostic that says which sources
    are stylistically interchangeable (near 1) vs complementary.
    Distinct from source_vocab_overlap (set Jaccard): counts weight
    the comparison by usage mass, not vocabulary membership. Exact
    across engines: dot products and squared norms are wide-integer
    sums (DECIMAL(38,0) / HUGEINT — per-source counts grow with the
    corpus, so BIGINT products overflow at deployment scale; any
    order), and sqrt / the final divide are single exactly-rounded
    IEEE ops evaluated in the same tree shape.

    Scale: the pair join is term-keyed — only sources sharing a term
    ever meet, and the per-term fan-out is (sources-per-term choose 2)
    with sources a SMALL set, so this never approaches all-pairs of
    rows. One (source, term) shuffle feeds both the norms and the dot
    products."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    tf = (
        docs.select("source", F.explode(tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # per-source term counts grow with the corpus, so products are
    # accumulated in DECIMAL(38,0) (HUGEINT oracle); the emitted dot
    # stays BIGINT — its final cast fails LOUDLY (ANSI) in the far
    # regime where the dot itself no longer fits, instead of silently
    # wrapping during accumulation
    norms = tf.groupBy("source").agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("ssq")
    )
    a = tf.select(F.col("source").alias("source_a"), "term", F.col("c").alias("ca"))
    b = tf.select(F.col("source").alias("source_b"), "term", F.col("c").alias("cb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.col("ca").cast("decimal(38,0)") * F.col("cb"))
            .cast("long")
            .alias("dot")
        )
    )
    na = norms.select(F.col("source").alias("source_a"), F.col("ssq").alias("ssq_a"))
    nb = norms.select(F.col("source").alias("source_b"), F.col("ssq").alias("ssq_b"))
    return (
        dots.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "dot",
            (
                F.col("dot")
                / (F.sqrt(F.col("ssq_a").cast("double")) * F.sqrt(F.col("ssq_b").cast("double")))
            ).alias("cosine"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "reciprocal_nearest_neighbors",
    ops=("J2", "W2", "O2"),
    oracle=f"""
        WITH {_SQL_KMEANS}, pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(list_sum(list_transform(list_zip(a.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS dot,
                   a.norm2 AS na, b.norm2 AS nb
            FROM kassign a JOIN kassign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), cos AS (
            SELECT id_a, id_b,
                   CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
            FROM pairs
        ), nn AS (
            SELECT id_a, id_b, cosine
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
                      ORDER BY cosine DESC, id_b) AS rn FROM cos)
            WHERE rn = 1
        )
        SELECT x.id_a, x.id_b, x.cosine
        FROM nn x JOIN nn y ON x.id_a = y.id_b AND x.id_b = y.id_a
        WHERE x.id_a < x.id_b
    """,
)
def reciprocal_nearest_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal (mutual) nearest neighbors over the embedding
    corpus: pairs where each vector is the other's single nearest
    neighbor within its IVF cell — the high-precision pairing signal
    used for near-dup confirmation and bitext/anchor alignment (RNN
    pairs are far more reliable than one-directional top-1 matches).
    Runs on the IVF scale path (same deterministic k-means cells as
    embedding_ann_ivf), so the candidate work is within-cell only;
    mutuality is one self-equi-join of the per-vector top-1 list on
    the reversed id pair. Cosine symmetry makes the pair's score
    identical from both ends, so the emitted value is unambiguous.

    Scale: NN extraction is the IVF search (one cell-keyed shuffle,
    per-cell int64 matmul); the mutual join carries 3-column rows
    keyed by (id, id) — tiny. At 100 TB the same plan holds with the
    multi-probe candidate set swapped in for single-cell."""
    assigned, _ = kmeans_units_corpus(load(spark, sf_dir, "embeddings"), sf_dir)
    # The NN table feeds both sides of the mutuality join — 3 narrow
    # columns per vector, so materialize once instead of running the
    # quantize + per-cell matmul pipeline per join side.
    nn = (
        topk_units_cells_pandas(assigned, k=1)
        .select("id_a", "id_b", "cosine")
        .localCheckpoint(eager=True)
    )
    rev = nn.select(F.col("id_b").alias("r_a"), F.col("id_a").alias("r_b"))
    return (
        nn.join(rev, (nn.id_a == rev.r_a) & (nn.id_b == rev.r_b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cosine")
    )


TOKEN_BUDGET = 1_000_000  # tokens to apportion across sources


@register(
    "token_budget_apportionment",
    ops=("A1", "W2", "O1"),
    oracle=f"""
        WITH w AS (
            SELECT source,
                   CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                       t -> t <> ''))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS w_total,
                   CAST(SUM({TOKEN_BUDGET} * n_tokens // (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM w))
                        AS BIGINT) AS base_total
            FROM w
        ), quotas AS (
            SELECT source, n_tokens,
                   CAST({TOKEN_BUDGET} * n_tokens // w_total AS BIGINT) AS base_alloc,
                   CAST({TOKEN_BUDGET} * n_tokens % w_total AS BIGINT) AS remainder_units,
                   CAST({TOKEN_BUDGET} - base_total AS BIGINT) AS leftover
            FROM w CROSS JOIN tot
        )
        SELECT source, n_tokens, base_alloc, remainder_units,
               CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
               CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
                   AS final_alloc
        FROM (SELECT *, ROW_NUMBER() OVER (
                  ORDER BY remainder_units DESC, source) AS rk FROM quotas)
        ORDER BY source
    """,
)
def token_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed training
    token budget across sources, proportional to each source's token
    mass: floor quotas in exact integer arithmetic, then the leftover
    tokens go one each to the largest fractional remainders
    (deterministic source tie-break). The allocation sums EXACTLY to
    the budget — the property proportional rounding by round() cannot
    guarantee — which is what a sampling scheduler needs before it
    draws per-source documents. Integer products bound: budget *
    per-source tokens must fit int64 (rescale the budget units at
    larger corpora).

    Scale: per-source token mass is one map-side-combined aggregate;
    the apportionment itself runs on ONE row per source (a tiny
    frame), so the global remainder window is bounded by the source
    vocabulary, not the corpus."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    w = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens")
    )
    quotas = (
        w.crossJoin(
            F.broadcast(
                w.agg(F.sum("n_tokens").cast("long").alias("w_total"))
            )
        )
        .select(
            "source",
            "n_tokens",
            F.expr(f"CAST({TOKEN_BUDGET} * n_tokens DIV w_total AS LONG)").alias(
                "base_alloc"
            ),
            F.expr(f"CAST({TOKEN_BUDGET} * n_tokens % w_total AS LONG)").alias(
                "remainder_units"
            ),
        )
    )
    leftover = quotas.agg(
        (F.lit(TOKEN_BUDGET) - F.sum("base_alloc")).cast("long").alias("leftover")
    )
    rk = F.row_number().over(
        W.orderBy(F.col("remainder_units").desc(), "source")
    )
    return (
        quotas.crossJoin(F.broadcast(leftover))
        .withColumn("rk", rk)
        .select(
            "source",
            "n_tokens",
            "base_alloc",
            "remainder_units",
            F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0).cast("long").alias("extra"),
            (
                F.col("base_alloc")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            ).cast("long").alias("final_alloc"),
        )
        .orderBy("source")
    )


def _sql_sig_matches() -> str:
    return " + ".join(
        f"CASE WHEN COALESCE(a.mh_{i}, -1) = COALESCE(b.mh_{i}, -1) THEN 1 ELSE 0 END"
        for i in range(len(MINHASH_SEEDS))
    )


@register(
    "minhash_estimation_accuracy",
    ops=("J2", "A6"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), sh AS (
            SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks
        ), mh AS (
            SELECT doc_id,
            {_sql_minhash_cols()}
            FROM sh
        ), bands AS (
            SELECT doc_id, 0 AS band_idx,
                   ((0 * 1000003 + COALESCE(mh_0, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_1, 0) % 1000003) % {HASH_P} AS band_val FROM mh
            UNION ALL
            SELECT doc_id, 1,
                   ((0 * 1000003 + COALESCE(mh_2, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_3, 0) % 1000003) % {HASH_P} FROM mh
            UNION ALL
            SELECT doc_id, 2,
                   ((0 * 1000003 + COALESCE(mh_4, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_5, 0) % 1000003) % {HASH_P} FROM mh
            UNION ALL
            SELECT doc_id, 3,
                   ((0 * 1000003 + COALESCE(mh_6, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_7, 0) % 1000003) % {HASH_P} FROM mh
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ), hs AS (
            SELECT doc_id,
                   list_distinct(list_transform(s, x -> {sql_portable_hash31('x')})) AS hset
            FROM sh
        ), joined AS (
            SELECT c.id_a, c.id_b,
                   CAST({_sql_sig_matches()} AS BIGINT) AS n_sig_match,
                   CAST(len(list_intersect(ha.hset, hb.hset)) AS BIGINT) AS n_inter,
                   CAST(len(list_distinct(list_concat(ha.hset, hb.hset))) AS BIGINT) AS n_union
            FROM cand c
            JOIN mh a ON a.doc_id = c.id_a
            JOIN mh b ON b.doc_id = c.id_b
            JOIN hs ha ON ha.doc_id = c.id_a
            JOIN hs hb ON hb.doc_id = c.id_b
        )
        SELECT id_a, id_b, n_sig_match,
               CAST(n_sig_match AS DOUBLE) / {len(MINHASH_SEEDS)}.0 AS est_jaccard,
               CASE WHEN n_union > 0
                    THEN CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)
                    ELSE 0.0 END AS exact_jaccard,
               abs(CAST(n_sig_match AS DOUBLE) / {len(MINHASH_SEEDS)}.0
                   - CASE WHEN n_union > 0
                          THEN CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)
                          ELSE 0.0 END) AS abs_err
        FROM joined
    """,
)
def minhash_estimation_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for the MinHash family (the
    quantile_sketch_accuracy analog for dedup): for every LSH
    candidate pair, the signature-agreement estimate of shingle-set
    Jaccard (matching permutations / 8) side by side with the EXACT
    shingle Jaccard and the absolute error — the table that justifies
    the banding thresholds to an auditor. Note the estimate targets
    the SHINGLE-set Jaccard (what MinHash provably estimates), not
    the token-set Jaccard the verify stage uses; comparing the right
    pair of quantities is the point of the audit.

    Scale: candidates come from the band join (O(collisions));
    signatures and distinct-shingle sets re-attach by id equi-joins.
    The shingle sets ship ONLY to candidate rows — the same
    verify-stage shape as fuzzy_dedup_pipeline."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # md5-per-shingle signatures are the per-row CPU: spread the
    # narrow doc projection first (identity at real scale; r11).
    hashed = spread(docs, "doc_id").withColumn(
        "__sh", F.transform(word_shingles("text"), portable_hash31)
    )
    # sig/hs are consumed by both join sides; recomputing them is
    # deliberate — a localCheckpoint here measured NO faster (the
    # per-row hash pipeline is cheap next to the collision join's
    # array shipping) and serializing wide per-doc arrays is the cost
    # you'd pay for it.
    sig = hashed.select("doc_id", *minhash_from_hashes(F.col("__sh")))
    hs = hashed.select("doc_id", F.array_distinct("__sh").alias("hset"))
    cand = minhash_lsh_candidates(spark, sf_dir)
    k = len(MINHASH_SEEDS)
    sa = sig.select(F.col("doc_id").alias("id_a"), *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(k)])
    sb = sig.select(F.col("doc_id").alias("id_b"), *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(k)])
    ha = hs.select(F.col("doc_id").alias("id_a"), F.col("hset").alias("hset_a"))
    hb = hs.select(F.col("doc_id").alias("id_b"), F.col("hset").alias("hset_b"))
    matches = sum(
        F.when(
            F.coalesce(F.col(f"a_{i}"), F.lit(-1)) == F.coalesce(F.col(f"b_{i}"), F.lit(-1)), 1
        ).otherwise(0)
        for i in range(k)
    )
    n_inter = F.size(F.array_intersect("hset_a", "hset_b")).cast("long")
    # |A∪B| identity over the distinct shingle-hash sets — same exact
    # integer, no per-pair union array
    n_union = (
        F.size("hset_a").cast("long") + F.size("hset_b").cast("long") - n_inter
    )
    est = F.col("n_sig_match").cast("double") / F.lit(float(k))
    exact = F.when(
        F.col("n_union") > 0,
        F.col("n_inter").cast("double") / F.col("n_union").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            matches.cast("long").alias("n_sig_match"),
            n_inter.alias("n_inter"),
            n_union.alias("n_union"),
        )
        .select(
            "id_a",
            "id_b",
            "n_sig_match",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.abs(est - exact).alias("abs_err"),
        )
    )


@register(
    "ann_recall_report",
    ops=("J2", "W2", "O2"),
    oracle=f"""
        WITH {_SQL_KMEANS}, xpairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(list_sum(list_transform(list_zip(a.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS dot,
                   a.norm2 AS na, b.norm2 AS nb
            FROM kassign a JOIN kassign b ON a.vec_id <> b.vec_id
        ), xtop AS (
            SELECT id_a, id_b FROM (
                SELECT id_a, id_b, ROW_NUMBER() OVER (PARTITION BY id_a
                    ORDER BY CAST(dot AS DOUBLE)
                        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
                        id_b) AS rn
                FROM xpairs)
            WHERE rn <= 5
        ), cpairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(list_sum(list_transform(list_zip(a.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS dot,
                   a.norm2 AS na, b.norm2 AS nb
            FROM kassign a JOIN kassign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), ctop AS (
            SELECT id_a, id_b FROM (
                SELECT id_a, id_b, ROW_NUMBER() OVER (PARTITION BY id_a
                    ORDER BY CAST(dot AS DOUBLE)
                        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
                        id_b) AS rn
                FROM cpairs)
            WHERE rn <= 5
        ), stats AS (
            SELECT x.id_a AS vec_id,
                   CAST(COUNT(c.id_b) AS BIGINT) AS n_hits
            FROM xtop x LEFT JOIN ctop c
              ON c.id_a = x.id_a AND c.id_b = x.id_b
            GROUP BY x.id_a
        ), nivf AS (
            SELECT id_a AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_ivf
            FROM ctop GROUP BY id_a
        )
        SELECT s.vec_id, COALESCE(v.n_ivf, 0) AS n_ivf, s.n_hits,
               CAST(s.n_hits AS DOUBLE) / 5.0 AS recall_at_5
        FROM stats s LEFT JOIN nivf v ON v.vec_id = s.vec_id
    """,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector recall@5 of the IVF single-probe search against the
    exact brute-force top-5 — the ANN quality dial as a DATA product
    (test_ann_recall.py pins operating points; this emits the full
    per-vector report an index-tuning pass reads). n_ivf < 5 rows show
    vectors whose cell has too few members — the signal to raise
    n_probe or re-train the quantizer.

    Scale: the exact arm is the O(n^2) verifier by definition — at
    corpus scale this report runs on a SAMPLED query set (the
    recall estimator needs only a few thousand probes), while the IVF
    arm is the production plan; both arms here share one quantizer
    run. Exactness: both rankings order by the same exactly-rounded
    cosine with id tie-break, so hit membership is deterministic."""
    assigned, _ = kmeans_units_corpus(load(spark, sf_dir, "embeddings"), sf_dir)
    exact = topk_cosine_blocked(
        load(spark, sf_dir, "embeddings"), k=5
    ).select("id_a", "id_b")
    # Two consumers below (the hit join and the per-vector IVF count);
    # materialize the small top-k pair set once so the quantize +
    # per-cell matmul pipeline doesn't run once per consumer.
    ivf = (
        topk_units_cells_pandas(assigned, k=5)
        .select(F.col("id_a").alias("c_a"), F.col("id_b").alias("c_b"))
        .localCheckpoint(eager=True)
    )
    hits = (
        exact.join(
            ivf, (F.col("id_a") == F.col("c_a")) & (F.col("id_b") == F.col("c_b")), "left"
        )
        .groupBy("id_a")
        .agg(F.count("c_b").cast("long").alias("n_hits"))
    )
    n_ivf = ivf.groupBy("c_a").agg(F.count(F.lit(1)).cast("long").alias("n_ivf"))
    return (
        hits.join(n_ivf, hits.id_a == n_ivf.c_a, "left")
        .select(
            F.col("id_a").alias("vec_id"),
            F.coalesce(F.col("n_ivf"), F.lit(0)).cast("long").alias("n_ivf"),
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(5.0)).alias("recall_at_5"),
        )
    )


@register(
    "language_id_confusion",
    ops=("A1", "J1", "P8"),
    oracle=f"""
        WITH toks AS (
            SELECT lang,
                   list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                             t -> t <> '')) AS tk
            FROM documents
        ), ls AS (
            SELECT lang,
                   CAST(len(list_intersect(tk, ['the', 'a', 'and', 'of', 'is'])) AS INT) AS score_en,
                   CAST(len(list_intersect(tk, ['der', 'die', 'das', 'und', 'ist'])) AS INT) AS score_de,
                   CAST(len(list_intersect(tk, ['el', 'la', 'que', 'de', 'es'])) AS INT) AS score_es,
                   CAST(len(list_intersect(tk, ['le', 'la', 'et', 'les', 'est'])) AS INT) AS score_fr,
                   CAST(len(list_intersect(tk, ['的', '是', '了', '不', '在'])) AS INT) AS score_zh
            FROM toks
        ), scored AS (
            SELECT lang AS labeled_lang,
                   CASE
                       WHEN score_en = greatest(score_en, score_de, score_es, score_fr, score_zh) AND score_en > 0 THEN 'en'
                       WHEN score_de = greatest(score_en, score_de, score_es, score_fr, score_zh) AND score_de > 0 THEN 'de'
                       WHEN score_es = greatest(score_en, score_de, score_es, score_fr, score_zh) AND score_es > 0 THEN 'es'
                       WHEN score_fr = greatest(score_en, score_de, score_es, score_fr, score_zh) AND score_fr > 0 THEN 'fr'
                       WHEN score_zh = greatest(score_en, score_de, score_es, score_fr, score_zh) AND score_zh > 0 THEN 'zh'
                       ELSE 'unknown'
                   END AS predicted_lang
            FROM ls
        ), cells AS (
            SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM scored GROUP BY labeled_lang, predicted_lang
        ), row_tot AS (
            SELECT labeled_lang, CAST(SUM(n_docs) AS BIGINT) AS n_labeled
            FROM cells GROUP BY labeled_lang
        )
        SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
               CAST(c.n_docs AS DOUBLE) / CAST(r.n_labeled AS BIGINT) AS recall_share,
               c.labeled_lang = c.predicted_lang AS is_correct
        FROM cells c JOIN row_tot r ON r.labeled_lang = c.labeled_lang
        ORDER BY c.labeled_lang, c.predicted_lang
    """,
)
def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language identifier against the
    labeled language — the eval rollup a model-quality dashboard reads
    (language_id emits per-document predictions; this aggregates
    label x prediction cells with per-label recall shares). Exact:
    counts are integers, each share is one division.

    Scale: per-row scoring then one aggregate on a (languages^2)-
    bounded key — evaluation cost is scoring cost."""
    docs = load(spark, sf_dir, "documents").select("lang", "text")
    scored = docs.select(
        F.col("lang").alias("labeled_lang"),
        predicted_language("text").alias("predicted_lang"),
    )
    cells = scored.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    row_tot = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").cast("long").alias("n_labeled")
    )
    return (
        cells.join(F.broadcast(row_tot), "labeled_lang")
        .select(
            "labeled_lang",
            "predicted_lang",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_labeled")).alias("recall_share"),
            (F.col("labeled_lang") == F.col("predicted_lang")).alias("is_correct"),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


CONTAINMENT_TAU = 0.8  # |A∩B| / |A| above which A is "contained in" B


@register(
    "ngram_containment_pairs",
    ops=("J2", "A6"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_TOKS} AS t FROM documents
        ), sh AS (
            SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks
        ), mh AS (
            SELECT doc_id,
            {_sql_minhash_cols()}
            FROM sh
        ), bands AS (
            SELECT doc_id, 0 AS band_idx,
                   ((0 * 1000003 + COALESCE(mh_0, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_1, 0) % 1000003) % {HASH_P} AS band_val FROM mh
            UNION ALL
            SELECT doc_id, 1,
                   ((0 * 1000003 + COALESCE(mh_2, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_3, 0) % 1000003) % {HASH_P} FROM mh
            UNION ALL
            SELECT doc_id, 2,
                   ((0 * 1000003 + COALESCE(mh_4, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_5, 0) % 1000003) % {HASH_P} FROM mh
            UNION ALL
            SELECT doc_id, 3,
                   ((0 * 1000003 + COALESCE(mh_6, 0) % 1000003) % {HASH_P} * 1000003
                    + COALESCE(mh_7, 0) % 1000003) % {HASH_P} FROM mh
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ), hs AS (
            SELECT doc_id,
                   list_distinct(list_transform(s, x -> {sql_portable_hash31('x')})) AS hset
            FROM sh
        )
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(ha.hset, hb.hset)) AS BIGINT) AS n_inter,
               CAST(len(ha.hset) AS BIGINT) AS n_a,
               CAST(len(hb.hset) AS BIGINT) AS n_b,
               CASE WHEN len(ha.hset) > 0
                    THEN CAST(len(list_intersect(ha.hset, hb.hset)) AS DOUBLE)
                         / CAST(len(ha.hset) AS DOUBLE) ELSE 0.0 END AS containment_a_in_b,
               CASE WHEN len(hb.hset) > 0
                    THEN CAST(len(list_intersect(ha.hset, hb.hset)) AS DOUBLE)
                         / CAST(len(hb.hset) AS DOUBLE) ELSE 0.0 END AS containment_b_in_a,
               (CASE WHEN len(ha.hset) > 0
                     THEN CAST(len(list_intersect(ha.hset, hb.hset)) AS DOUBLE)
                          / CAST(len(ha.hset) AS DOUBLE) ELSE 0.0 END) >= {CONTAINMENT_TAU}
                   OR
               (CASE WHEN len(hb.hset) > 0
                     THEN CAST(len(list_intersect(ha.hset, hb.hset)) AS DOUBLE)
                          / CAST(len(hb.hset) AS DOUBLE) ELSE 0.0 END) >= {CONTAINMENT_TAU}
                   AS is_contained
        FROM cand c
        JOIN hs ha ON ha.doc_id = c.id_a
        JOIN hs hb ON hb.doc_id = c.id_b
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder CONTAINMENT (|A∩B| / |A|, both directions) for every LSH
    candidate pair — the asymmetric companion to Jaccard that catches
    quotation/inclusion: a short document wholly embedded in a long
    one has near-1 containment but low Jaccard (the union is dominated
    by the long side), so a Jaccard-only dedup keeps the redundant
    pair. Flagged at tau=0.8 in either direction.

    Scale: same candidate discovery as the MinHash pipeline (band
    equi-join, O(collisions)); shingle sets ship only to candidate
    rows. Exact integer set sizes; each containment is one division."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # md5-per-shingle signatures are the per-row CPU: spread the
    # narrow doc projection first (identity at real scale; r11).
    hashed = spread(docs, "doc_id").withColumn(
        "__sh", F.transform(word_shingles("text"), portable_hash31)
    )
    # Recompute hs per join side on purpose: a localCheckpoint here
    # measured no faster (per-row recompute is cheap; wide per-doc
    # arrays are expensive to serialize — see
    # minhash_estimation_accuracy's note).
    hs = hashed.select("doc_id", F.array_distinct("__sh").alias("hset"))
    cand = minhash_lsh_candidates(spark, sf_dir)
    ha = hs.select(F.col("doc_id").alias("id_a"), F.col("hset").alias("hset_a"))
    hb = hs.select(F.col("doc_id").alias("id_b"), F.col("hset").alias("hset_b"))
    n_inter = F.size(F.array_intersect("hset_a", "hset_b")).cast("long")
    n_a = F.size("hset_a").cast("long")
    n_b = F.size("hset_b").cast("long")
    c_ab = F.when(n_a > 0, n_inter.cast("double") / n_a.cast("double")).otherwise(F.lit(0.0))
    c_ba = F.when(n_b > 0, n_inter.cast("double") / n_b.cast("double")).otherwise(F.lit(0.0))
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            n_inter.alias("n_inter"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            c_ab.alias("containment_a_in_b"),
            c_ba.alias("containment_b_in_a"),
            ((c_ab >= CONTAINMENT_TAU) | (c_ba >= CONTAINMENT_TAU)).alias("is_contained"),
        )
    )


@register(
    "cluster_representative_selection",
    ops=("J2", "A6", "W2"),
    oracle=f"""
        WITH RECURSIVE {_SQL_LSH_PAIRS}, edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ), reach(u, v) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.u, e.dst FROM reach r JOIN edges e ON r.v = e.src
        ), comp AS (
            SELECT u AS doc_id, MIN(v) AS component_id
            FROM reach GROUP BY u
        ), sized AS (
            SELECT c.doc_id, c.component_id,
                   CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
            FROM comp c JOIN documents d ON d.doc_id = c.doc_id
        ), ranked AS (
            SELECT doc_id, component_id, n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY component_id
                       ORDER BY n_tokens DESC, doc_id) AS rn
            FROM sized
        ), reps AS (
            SELECT component_id, doc_id AS representative_id
            FROM ranked WHERE rn = 1
        )
        SELECT s.doc_id, s.component_id, s.n_tokens, r.representative_id,
               s.doc_id = r.representative_id AS is_representative
        FROM sized s JOIN reps r ON r.component_id = s.component_id
    """,
)
def cluster_representative_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection over near-duplicate clusters: within
    each LSH-verified component, keep the LONGEST member (token
    count, deterministic id tie-break) — the C4/RefinedWeb-style
    survivor rule, and a different semantics from
    dedup_connected_components' keep-lowest-id (lowest-id keeps
    whatever arrived first; keep-longest keeps the most complete copy
    of the duplicated content). Every document is labeled with its
    cluster's representative so the drop set is auditable.

    Scale: edges are the canonical LSH-verified pair set (O(band
    collisions), never all-pairs); component labels from the min-label
    fixpoint; the argmax is a per-component window whose partition is
    bounded by the largest dup cluster (same bound as
    leakage_safe_split's size window). The representative broadcasts
    to cluster members through FIRST_VALUE over that same window
    partitioning — the default frame always contains the partition's
    top row — so no rank-then-self-join second shuffle."""
    docs = load(spark, sf_dir, "documents")
    comp = connected_components(
        docs.select("doc_id"), _lsh_verified_pairs(spark, sf_dir)
    )
    sized = comp.join(
        docs.select("doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")),
        "doc_id",
    )
    w = W.partitionBy("component_id").orderBy(F.col("n_tokens").desc(), "doc_id")
    return sized.select(
        "doc_id",
        "component_id",
        "n_tokens",
        F.first_value("doc_id").over(w).alias("representative_id"),
    ).withColumn(
        "is_representative", F.col("doc_id") == F.col("representative_id")
    )


@register(
    "ks_source_length_test",
    ops=("A1", "W2", "J3"),
    oracle=f"""
        WITH lens AS (
            SELECT source, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        ), counts AS (
            SELECT source, n_tokens, CAST(COUNT(*) AS BIGINT) AS c
            FROM lens GROUP BY source, n_tokens
        ), grid AS (
            SELECT DISTINCT n_tokens FROM lens
        ), srcs AS (
            SELECT source, CAST(SUM(c) AS BIGINT) AS tot_in FROM counts GROUP BY source
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM lens
        ), cells AS (
            SELECT s.source, g.n_tokens, COALESCE(c.c, 0) AS c_in
            FROM srcs s CROSS JOIN grid g
            LEFT JOIN counts c ON c.source = s.source AND c.n_tokens = g.n_tokens
        ), gcum AS (
            SELECT n_tokens,
                   CAST(SUM(c) AS BIGINT) AS g_c
            FROM counts GROUP BY n_tokens
        ), cum AS (
            SELECT ce.source, ce.n_tokens,
                   CAST(SUM(ce.c_in) OVER (PARTITION BY ce.source ORDER BY ce.n_tokens)
                        AS BIGINT) AS cum_in,
                   CAST(SUM(gc.g_c) OVER (PARTITION BY ce.source ORDER BY ce.n_tokens)
                        AS BIGINT) AS cum_all
            FROM cells ce JOIN gcum gc ON gc.n_tokens = ce.n_tokens
        )
        SELECT c.source, s.tot_in AS n_in, t.n_all - s.tot_in AS n_out,
               MAX(abs(CAST(c.cum_in AS DOUBLE) / CAST(s.tot_in AS DOUBLE)
                       - CAST(c.cum_all - c.cum_in AS DOUBLE)
                         / CAST(t.n_all - s.tot_in AS DOUBLE))) AS ks_stat
        FROM cum c
        JOIN srcs s ON s.source = c.source
        CROSS JOIN tot t
        GROUP BY c.source, s.tot_in, t.n_all
        ORDER BY c.source
    """,
)
def ks_source_length_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic of each source's
    document-length distribution against the rest of the corpus — the
    distribution-shift detector behind "did this crawl batch change
    shape?": KS = max ECDF gap, computed on a shared length grid so
    both step functions are evaluated at every jump point. Every ECDF
    value is one integer division; the max over exact doubles is
    order-free — bit-stable without any sort convention.

    Scale: the grid is (distinct lengths x sources) — bounded by
    length vocabulary, not corpus size; cumsums are per-source windows
    over that grid; the corpus is touched once for the per-(source,
    length) counts."""
    lens = load(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    counts = lens.groupBy("source", "n_tokens").agg(F.count(F.lit(1)).cast("long").alias("c"))
    grid = lens.select("n_tokens").distinct()
    srcs = counts.groupBy("source").agg(F.sum("c").cast("long").alias("tot_in"))
    tot = lens.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    # broadcast the per-source totals (|sources| rows, a keyed agg on
    # the tiny source dimension) and stream the length grid — at scale
    # the grid is ~|distinct lengths| rows, the wrong side to ship
    cells = (
        grid.crossJoin(F.broadcast(srcs))
        .join(counts, ["source", "n_tokens"], "left")
        .select("source", "n_tokens", "tot_in", F.coalesce(F.col("c"), F.lit(0)).alias("c_in"))
    )
    gcum = counts.groupBy("n_tokens").agg(F.sum("c").cast("long").alias("g_c"))
    w = W.partitionBy("source").orderBy("n_tokens")
    cum = (
        cells.join(F.broadcast(gcum), "n_tokens")
        .select(
            "source",
            "n_tokens",
            "tot_in",
            F.sum("c_in").over(w).cast("long").alias("cum_in"),
            F.sum("g_c").over(w).cast("long").alias("cum_all"),
        )
        .crossJoin(F.broadcast(tot))
    )
    gap = F.abs(
        F.col("cum_in").cast("double") / F.col("tot_in").cast("double")
        - (F.col("cum_all") - F.col("cum_in")).cast("double")
        / (F.col("n_all") - F.col("tot_in")).cast("double")
    )
    return (
        cum.groupBy("source", "tot_in", "n_all")
        .agg(F.max(gap).alias("ks_stat"))
        .select(
            "source",
            F.col("tot_in").alias("n_in"),
            (F.col("n_all") - F.col("tot_in")).alias("n_out"),
            "ks_stat",
        )
        .orderBy("source")
    )


@register(
    "doc_length_log_histogram",
    ops=("A1", "P8"),
    oracle=f"""
        WITH lens AS (
            SELECT greatest(CAST(len({_SQL_TOKS}) AS BIGINT), 0) AS n_tokens
            FROM documents
        ), binned AS (
            SELECT n_tokens,
                   CASE WHEN n_tokens = 0 THEN -1
                        ELSE CAST(length(bin(n_tokens)) - 1 AS INT) END AS log2_bin
            FROM lens
        ), tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM binned
        )
        SELECT log2_bin,
               CASE WHEN log2_bin < 0 THEN 0
                    ELSE CAST(2 ** log2_bin AS BIGINT) END AS bin_lo,
               CASE WHEN log2_bin < 0 THEN 0
                    ELSE CAST(2 ** (log2_bin + 1) - 1 AS BIGINT) END AS bin_hi,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS DOUBLE) / CAST(MIN(t.n_all) AS DOUBLE) AS share
        FROM binned CROSS JOIN tot t
        GROUP BY log2_bin
        ORDER BY log2_bin
    """,
)
def doc_length_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-2 (log-binned) histogram of document token lengths —
    the scale-free view a corpus dashboard uses when lengths span
    orders of magnitude (fixed-width bins crush the short-doc mass:
    histogram_fixed_width is the linear companion). The bin index is
    the position of the highest set bit, computed LEXICALLY from the
    binary string on both engines — floor(log2(n)) without log2, so
    power-of-2 boundary values can never land in the wrong bin from a
    last-ulp libm difference. Empty documents get a sentinel bin.

    Scale: per-row bit arithmetic, one aggregate on a ~log(max_len)
    cardinality key."""
    lens = load(spark, sf_dir, "documents").select(
        F.greatest(F.size(tokens("text")).cast("long"), F.lit(0)).alias("n_tokens")
    )
    log2_bin = F.when(F.col("n_tokens") == 0, F.lit(-1)).otherwise(
        (F.length(F.bin(F.col("n_tokens"))) - 1).cast("int")
    )
    binned = lens.select("n_tokens", log2_bin.alias("log2_bin"))
    tot = binned.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    return (
        binned.crossJoin(F.broadcast(tot))
        .groupBy("log2_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.count(F.lit(1)).cast("double") / F.min("n_all").cast("double")).alias("share"),
        )
        .select(
            "log2_bin",
            F.when(F.col("log2_bin") < 0, F.lit(0))
            .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), log2_bin)"))
            .cast("long")
            .alias("bin_lo"),
            F.when(F.col("log2_bin") < 0, F.lit(0))
            .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), log2_bin + 1) - 1"))
            .cast("long")
            .alias("bin_hi"),
            "n_docs",
            "share",
        )
        .orderBy("log2_bin")
    )


@register(
    "embedding_dimension_stats",
    ops=("N3", "A1", "A4"),
    oracle=f"""
        WITH u AS (
            SELECT vec_id, {_SQL_UNITS} AS units FROM embeddings
        ), flat AS (
            SELECT vec_id,
                   unnest(units) AS v,
                   unnest(generate_series(1, len(units))) AS dim
            FROM u
        )
        SELECT CAST(dim AS INT) AS dim,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(MIN(v) AS BIGINT) AS min_units,
               CAST(MAX(v) AS BIGINT) AS max_units,
               CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS mean_units,
               CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS BIGINT) AS zero_share,
               MAX(v) = MIN(v) AS is_constant
        FROM flat GROUP BY dim
        ORDER BY dim
    """,
)
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION health profile of the embedding corpus: min/max/
    mean (in fixed-point units), zero share, and constant-dimension
    detection — the audit that catches dead or collapsed dimensions
    (a constant dimension adds norm without information and silently
    degrades every cosine). The column-wise complement to the
    row-wise table_profile.

    Scale: posexplode is per-row; the aggregate keys on dimension
    index (bounded by embedding width), and every stat is
    decomposable — one map-side-combined shuffle."""
    u = with_units_and_norm(load(spark, sf_dir, "embeddings")).select("units")
    flat = u.select(F.posexplode("units").alias("dim0", "v")).select(
        (F.col("dim0") + 1).cast("int").alias("dim"), "v"
    )
    n = F.count(F.lit(1))
    return (
        flat.groupBy("dim")
        .agg(
            n.cast("long").alias("n_vecs"),
            F.min("v").cast("long").alias("min_units"),
            F.max("v").cast("long").alias("max_units"),
            (F.sum("v").cast("double") / n.cast("long")).alias("mean_units"),
            (
                F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).cast("double")
                / n.cast("long")
            ).alias("zero_share"),
            (F.max("v") == F.min("v")).alias("is_constant"),
        )
        .orderBy("dim")
    )


SNIPPET_RADIUS = 40  # chars of context on each side of the hit


@register(
    "search_snippets",
    ops=("F1", "P3", "J1"),
    oracle=f"""
        WITH probe AS (
            SELECT term FROM (
                SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents) t
                GROUP BY term
            ) dft CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents) s
            WHERE df * 2 <= n_docs
            ORDER BY df DESC, term LIMIT 1
        ), hits AS (
            SELECT d.doc_id, p.term,
                   CAST(strpos(d.text, p.term) AS BIGINT) AS pos
            FROM documents d CROSS JOIN probe p
            WHERE strpos(d.text, p.term) > 0
        )
        SELECT doc_id, term, pos,
               CASE WHEN pos > {SNIPPET_RADIUS} THEN '…' ELSE '' END
               || substr(text, greatest(pos - {SNIPPET_RADIUS}, 1),
                         least(pos - 1, {SNIPPET_RADIUS}) + length(term)
                         + {SNIPPET_RADIUS}) AS snippet
        FROM hits JOIN documents USING (doc_id)
    """,
)
def search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippet extraction for the top probe term
    (same deterministic probe rule as bm25_probe_ranking, k=1): first
    occurrence position and a +-40-character context window with a
    leading ellipsis when truncated — the result-page presentation
    layer of the retrieval stack. String positions are 1-based on both
    engines (strpos / instr agree); the window arithmetic is pure
    integer clamping.

    Scale: the probe is a broadcast single row; matching and substring
    extraction are per-row string ops inside codegen — no shuffle
    beyond the df aggregate that picks the probe."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    dft = tok.groupBy("term").agg(F.count_distinct("doc_id").cast("long").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    probe = (
        dft.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 2 <= F.col("n_docs"))
        .orderBy(F.col("df").desc(), "term")
        .limit(1)
        .select("term")
    )
    hits = (
        docs.crossJoin(F.broadcast(probe))
        .withColumn("pos", F.instr(F.col("text"), F.col("term")).cast("long"))
        .filter(F.col("pos") > 0)
    )
    start = F.greatest(F.col("pos") - SNIPPET_RADIUS, F.lit(1))
    length = (
        F.least(F.col("pos") - 1, F.lit(SNIPPET_RADIUS))
        + F.length("term")
        + F.lit(SNIPPET_RADIUS)
    )
    snippet = F.concat(
        F.when(F.col("pos") > SNIPPET_RADIUS, F.lit("…")).otherwise(F.lit("")),
        F.substring(F.col("text"), start, length),
    )
    return hits.select("doc_id", "term", "pos", snippet.alias("snippet"))


@register(
    "dedup_pair_source_matrix",
    ops=("J2", "A1", "O1"),
    oracle=f"""
        WITH {_SQL_LSH_PAIRS}, labeled AS (
            SELECT da.source AS source_a, db.source AS source_b
            FROM pairs p
            JOIN documents da ON da.doc_id = p.id_a
            JOIN documents db ON db.doc_id = p.id_b
        ), src_tot AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source
        )
        SELECT l.source_a, l.source_b,
               CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
               s.n_docs AS n_docs_a,
               CAST(COUNT(*) AS DOUBLE) / CAST(s.n_docs AS DOUBLE) AS dup_pairs_per_doc
        FROM labeled l JOIN src_tot s ON s.source = l.source_a
        GROUP BY l.source_a, l.source_b, s.n_docs
        ORDER BY source_a, source_b
    """,
)
def dedup_pair_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts by source pair — the provenance
    matrix that tells a curation team WHERE duplication comes from
    (template reuse within one feed vs syndication between feeds),
    normalized per source size. Pairs are the engine's canonical
    LSH-verified near-dup edges (_lsh_verified_pairs), which are
    corpus-wide — cross-source syndication shows up as off-diagonal
    cells, which the earlier source-blocked form could never populate.

    Scale: pair generation is the LSH candidate join (O(band
    collisions), never all-pairs); the matrix rollup keys on
    (source, source) — vocabulary-sized."""
    docs = load(spark, sf_dir, "documents")
    pairs = _lsh_verified_pairs(spark, sf_dir)
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("source_a")), "id_a")
        .join(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("source_b")), "id_b")
    )
    src_tot = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_pairs"))
        .join(
            F.broadcast(src_tot.select(F.col("source").alias("source_a"), "n_docs")),
            "source_a",
        )
        .select(
            "source_a",
            "source_b",
            "n_dup_pairs",
            F.col("n_docs").alias("n_docs_a"),
            (F.col("n_dup_pairs").cast("double") / F.col("n_docs").cast("double")).alias(
                "dup_pairs_per_doc"
            ),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Retrieval-quality evaluation (MRR / hits@k / precision@k)
# ---------------------------------------------------------------------------

_MRR_TOPK = 10  # evaluation cutoff for hits@k / precision@k


@register(
    "retrieval_mrr_eval",
    ops=("J1", "A1", "W2", "O2"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source, list_distinct({_SQL_TOKS}) AS t
            FROM documents
        ), probes AS (
            SELECT source AS probe_source, MIN(doc_id) AS probe_id
            FROM documents GROUP BY source
        ), ptoks AS (
            SELECT p.probe_id, p.probe_source, unnest(t.t) AS term
            FROM probes p JOIN toks t ON t.doc_id = p.probe_id
        ), dtoks AS (
            SELECT doc_id, source, unnest(t) AS term FROM toks
        ), cand AS (
            SELECT pt.probe_id, pt.probe_source, dt.doc_id, dt.source,
                   CAST(COUNT(*) AS BIGINT) AS score
            FROM ptoks pt JOIN dtoks dt USING (term)
            WHERE dt.doc_id <> pt.probe_id
            GROUP BY pt.probe_id, pt.probe_source, dt.doc_id, dt.source
        ), ranked AS (
            SELECT *, CAST(ROW_NUMBER() OVER (
                       PARTITION BY probe_id
                       ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
            FROM cand
        )
        SELECT probe_id, probe_source,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               MIN(CASE WHEN source = probe_source THEN rnk END)
                   AS first_rel_rank,
               COALESCE(1.0 / CAST(MIN(CASE WHEN source = probe_source
                                            THEN rnk END) AS DOUBLE),
                        0.0) AS reciprocal_rank,
               CAST(SUM(CASE WHEN rnk <= {_MRR_TOPK}
                              AND source = probe_source
                             THEN 1 ELSE 0 END) AS INT) AS hits_at_10,
               CAST(SUM(CASE WHEN rnk <= {_MRR_TOPK}
                              AND source = probe_source
                             THEN 1 ELSE 0 END) AS DOUBLE)
                   / {_MRR_TOPK}.0 AS precision_at_10
        FROM ranked GROUP BY probe_id, probe_source
    """,
)
def retrieval_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: one deterministic probe document
    per source (smallest doc_id) queries the corpus through an
    inverted-index candidate join — candidates are docs sharing at
    least one distinct token with the probe, scored by shared-token
    count — and each probe reports its reciprocal rank of the first
    same-source hit, hits@10, and precision@10. Per-probe rows keep
    every value exact (ranks are integers; reciprocal_rank and
    precision@10 are single divisions), so no cross-probe double
    summation enters the hash gate — the corpus-level MRR is the
    trivial mean of a 20-row result.

    Scale: candidate generation is the inverted-index equi-join on
    the token key (never probe x corpus), so cost tracks posting-list
    sizes; probe terms broadcast (|sources| docs). The per-probe
    ranking window partitions on probe_id — at extreme posting skew
    the two-phase salted top-k bm25_probe_ranking demonstrates drops
    in unchanged."""
    # tokenize feeds the probe join and the posting explode from the
    # one-split scan at gate scale (r11 profile: 0.69 s single-task
    # stage); spread first — identity at real scale.
    docs = spread(
        load(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        "doc_id",
    )
    toks = docs.select(
        "doc_id", "source", F.array_distinct(tokens("text")).alias("t")
    )
    probes = docs.groupBy(F.col("source").alias("probe_source")).agg(
        F.min("doc_id").alias("probe_id")
    )
    ptoks = (
        probes.join(toks, probes.probe_id == toks.doc_id)
        .select("probe_id", "probe_source", F.explode("t").alias("term"))
    )
    dtoks = toks.select("doc_id", "source", F.explode("t").alias("term"))
    cand = (
        dtoks.join(F.broadcast(ptoks), "term")
        .filter(F.col("doc_id") != F.col("probe_id"))
        .groupBy("probe_id", "probe_source", "doc_id", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("score"))
    )
    ranked = cand.withColumn(
        "rnk",
        F.row_number()
        .over(W.partitionBy("probe_id").orderBy(F.col("score").desc(), "doc_id"))
        .cast("long"),
    )
    rel = F.col("source") == F.col("probe_source")
    agg = ranked.groupBy("probe_id", "probe_source").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.min(F.when(rel, F.col("rnk"))).alias("first_rel_rank"),
        F.sum(F.when(rel & (F.col("rnk") <= _MRR_TOPK), 1).otherwise(0))
        .cast("int")
        .alias("hits_at_10"),
    )
    return agg.select(
        "probe_id",
        "probe_source",
        "n_candidates",
        "first_rel_rank",
        F.coalesce(
            F.lit(1.0) / F.col("first_rel_rank").cast("double"), F.lit(0.0)
        ).alias("reciprocal_rank"),
        "hits_at_10",
        (F.col("hits_at_10").cast("double") / F.lit(float(_MRR_TOPK))).alias(
            "precision_at_10"
        ),
    )


@register(
    "near_dup_degree_stats",
    ops=("J3", "A1"),
    oracle=f"""
        WITH {_SQL_LSH_PAIRS}, ends AS (
            SELECT id_a AS doc_id FROM pairs
            UNION ALL
            SELECT id_b FROM pairs
        ), deg AS (
            SELECT d.doc_id, CAST(COUNT(e.doc_id) AS BIGINT) AS degree
            FROM documents d LEFT JOIN ends e ON e.doc_id = d.doc_id
            GROUP BY d.doc_id
        )
        SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM deg GROUP BY degree
    """,
)
def near_dup_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the verified near-duplicate graph —
    the structural skew diagnostic for fuzzy dedup at corpus scale.
    A healthy crawl shows a thin tail (most documents isolated, dup
    clusters small); a hot boilerplate template shows up as a handful
    of vertices whose degree approaches the cluster size, which is
    exactly the C(h,2) band-collision blow-up SKEW_SCALE.md measures.
    Reading this histogram BEFORE running the transitive closure is
    how a 100 TB dedup run decides whether to exact-collapse a
    template first (the engine's dedup-first composition) or proceed
    straight to connected components.

    Degree 0 rows are included (documents left-joined against the
    edge ends), so the histogram masses sum to the corpus size and
    sum(degree * n_docs) = 2|E| — both invariants property-testable.

    Scale: rides ``_lsh_verified_pairs`` (O(band collisions), never
    all-pairs); the degree count is one map-side-combined aggregate
    on doc_id, the histogram a second on the (small) degree domain."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    pairs = _lsh_verified_pairs(spark, sf_dir)
    # One pass over the verified pairs: a union of two selects would
    # run the whole LSH verify pipeline once per branch; exploding
    # both ends of each edge reads it exactly once.
    ends = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("doc_id")
    )
    per_doc = ends.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    deg = docs.join(per_doc, "doc_id", "left").select(
        F.coalesce("degree", F.lit(0)).cast("long").alias("degree")
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


#: Jaccard thresholds (percent) swept by ``dedup_threshold_sweep``.
SWEEP_TAUS_PCT = (50, 60, 70, 80, 90)


@register(
    "dedup_threshold_sweep",
    ops=("J2", "A1", "P6"),
    oracle=f"""
        WITH {_SQL_LSH_CAND}, jac AS (
            SELECT c.id_a, c.id_b,
                   CASE WHEN len(list_distinct(list_concat(ta.tk, tb.tk))) > 0
                        THEN CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
                             / CAST(len(list_distinct(list_concat(ta.tk, tb.tk))) AS DOUBLE)
                        ELSE 0.0 END AS jaccard
            FROM cand c
            JOIN dtoks ta ON ta.doc_id = c.id_a
            JOIN dtoks tb ON tb.doc_id = c.id_b
        ), taus AS (
            SELECT unnest([{", ".join(str(t) for t in SWEEP_TAUS_PCT)}]) AS tau_pct
        ), p AS (
            SELECT t.tau_pct,
                   CAST(SUM(CASE WHEN j.jaccard >= CAST(t.tau_pct AS DOUBLE) / 100.0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
            FROM taus t CROSS JOIN jac j GROUP BY t.tau_pct
        ), d0 AS (
            SELECT id_b, MAX(jaccard) AS maxj FROM jac GROUP BY id_b
        ), d AS (
            SELECT t.tau_pct,
                   CAST(SUM(CASE WHEN d0.maxj >= CAST(t.tau_pct AS DOUBLE) / 100.0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_retired
            FROM taus t CROSS JOIN d0 GROUP BY t.tau_pct
        )
        SELECT CAST(p.tau_pct AS INT) AS tau_pct, p.n_pairs, d.n_docs_retired
        FROM p JOIN d ON p.tau_pct = d.tau_pct
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup operating-point sweep: how many verified pairs survive —
    and how many documents would be retired under the keep-lowest-id
    convention — at each candidate Jaccard threshold. This is the
    curation dial a pretraining pipeline turns before committing to a
    corpus-wide dedup pass: too low and distinct documents merge, too
    high and boilerplate survives; the sweep prices each choice in ONE
    pass over the LSH candidate set instead of re-running dedup per
    threshold.

    The per-pair Jaccard is computed once (the same exact projection
    ``ngram_jaccard_pairs`` registers); thresholds explode over it,
    so adding a threshold costs an extra counter, not a rescan. The
    retired-document count thresholds each document's MAX pair
    Jaccard — max is order-independent, so no float summation enters
    the comparison and the oracle replays it bit-for-bit.

    Scale: O(band collisions * |taus|) rows through two map-side-
    combined aggregates; the threshold list is a literal array."""
    # The per-pair Jaccard feeds TWO aggregates (pair counts by tau,
    # per-doc max for retirement); materialize the collision-bounded
    # (id_a, id_b, jaccard) rows once so the second consumer doesn't
    # re-run the whole LSH verify pipeline.
    cand = _lsh_candidate_jaccard(spark, sf_dir).localCheckpoint(eager=True)
    taus = F.array(*[F.lit(t) for t in SWEEP_TAUS_PCT])
    passes = F.col("jaccard") >= F.col("tau_pct").cast("double") / 100.0
    p = (
        cand.select("jaccard", F.explode(taus).alias("tau_pct"))
        .groupBy("tau_pct")
        .agg(F.sum(F.when(passes, 1).otherwise(0)).cast("long").alias("n_pairs"))
    )
    d0 = cand.groupBy("id_b").agg(F.max("jaccard").alias("maxj"))
    d = (
        d0.select("maxj", F.explode(taus).alias("tau_pct"))
        .groupBy("tau_pct")
        .agg(
            F.sum(
                F.when(F.col("maxj") >= F.col("tau_pct").cast("double") / 100.0, 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_docs_retired")
        )
    )
    return p.join(d, "tau_pct").select(
        F.col("tau_pct").cast("int").alias("tau_pct"), "n_pairs", "n_docs_retired"
    )


@register(
    "packing_efficiency_report",
    ops=("W2", "A1", "F8"),
    oracle=f"""
        WITH toks AS (
            SELECT source, doc_id,
                   CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        ), cum AS (
            SELECT source, doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS start_offset
            FROM toks
        ), agg AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(CASE WHEN n_tokens > 0
                                  AND start_offset // {PACK_BUDGET_TOKENS}
                                      <> (start_offset + n_tokens - 1) // {PACK_BUDGET_TOKENS}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS boundary_straddles
            FROM cum GROUP BY source
        )
        SELECT source, n_docs, total_tokens,
               CAST((total_tokens + {PACK_BUDGET_TOKENS - 1}) // {PACK_BUDGET_TOKENS}
                    AS BIGINT) AS n_chunks,
               boundary_straddles,
               CAST(({PACK_BUDGET_TOKENS} - total_tokens % {PACK_BUDGET_TOKENS})
                    % {PACK_BUDGET_TOKENS} AS BIGINT) AS tail_waste_tokens,
               CAST(CASE WHEN total_tokens > 0
                         THEN total_tokens * 10000
                              // (((total_tokens + {PACK_BUDGET_TOKENS - 1})
                                   // {PACK_BUDGET_TOKENS}) * {PACK_BUDGET_TOKENS})
                         ELSE 0 END AS BIGINT) AS fill_bp
        FROM agg
    """,
)
def packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit of the concat-then-chop layout that
    ``context_window_packing`` emits: per pack stream (source) — chunk
    count at the fixed token budget, tokens wasted in the final
    partial chunk, documents straddling a chunk boundary (those lose
    cross-boundary attention in training), and the stream's fill rate
    in basis points. These are the numbers that decide between plain
    concat packing and best-fit document packing for a training run;
    at 100 TB re-packing is a full-corpus rewrite, so the audit runs
    first.

    All integer arithmetic: offsets from the same window cumsum the
    packing query uses, chunk math by integer DIV/mod, fill rate by
    integer basis points — the oracle replays every value exactly.

    Scale: one shuffle on source, the window rides that partitioning,
    then a map-side-combined per-source aggregate; output is one row
    per pack stream."""
    B = PACK_BUDGET_TOKENS
    docs = load(spark, sf_dir, "documents").select("source", "doc_id", "text")
    n_tok = F.size(tokens("text")).cast("long")
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    cum = docs.select("source", "doc_id", n_tok.alias("n_tokens")).withColumn(
        "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    straddle = F.when(
        (F.col("n_tokens") > 0)
        & (
            F.expr(f"start_offset DIV {B}")
            != F.expr(f"(start_offset + n_tokens - 1) DIV {B}")
        ),
        1,
    ).otherwise(0)
    agg = cum.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(straddle).cast("long").alias("boundary_straddles"),
    )
    n_chunks = F.expr(f"(total_tokens + {B - 1}) DIV {B}").cast("long")
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        n_chunks.alias("n_chunks"),
        "boundary_straddles",
        ((F.lit(B) - F.col("total_tokens") % B) % B)
        .cast("long")
        .alias("tail_waste_tokens"),
        F.when(
            F.col("total_tokens") > 0,
            F.expr(
                f"total_tokens * 10000 DIV "
                f"(((total_tokens + {B - 1}) DIV {B}) * {B})"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("fill_bp"),
    )


# ============== LM-perplexity quality tier (r08, VERDICT r07 #1) =====

@register(
    "perplexity_buckets",
    ops=("W1", "W2", "A1"),
    oracle=f"""
        WITH {sql_bigram_lm_ctes()},
        eligible AS (
            SELECT doc_id, score_num, score_den, ppl_proxy
            FROM lm WHERE n_bigrams > 0
        ),
        tiled AS (
            SELECT doc_id, ppl_proxy,
                   CAST(ntile(3) OVER (ORDER BY ppl_proxy, doc_id) AS INT)
                       AS bucket_idx
            FROM eligible
        )
        SELECT doc_id, ppl_proxy, bucket_idx,
               CASE bucket_idx WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM tiled
    """,
)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's canonical use of the LM score (Wenzek et al. 2020 §4.4):
    cut the corpus into head / middle / tail perplexity TERCILES —
    head (lowest perplexity, most in-distribution) is what high-budget
    mixes upsample, tail is what gets dropped or heavily downsampled.
    Exact ntile over the total order (ppl_proxy, doc_id), restricted
    to documents that have bigrams at all.

    Scale: the oracle's global ntile window is a single task; the plan
    is the two-phase range-ranking shape of curriculum_phases /
    global_rank_range_partitioned — range-bucket on the ppl value,
    per-bucket counts prefix-summed into broadcast offsets, global
    rank = offset + within-bucket row_number, ntile arithmetic in
    closed form on (rank, total). The corpus shuffles once on the
    bucket id; ppl_proxy is the same two-int64 IEEE division in both
    engines, so bucketing on it is deterministic."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    scored = bigram_lm_scores(docs).filter(F.col("n_bigrams") > 0)
    rows = scored.select("doc_id", "ppl_proxy").withColumn(
        "__b", F.floor(F.col("ppl_proxy") / F.lit(0.25)).cast("long")
    )
    counts = rows.groupBy("__b").agg(F.count(F.lit(1)).cast("long").alias("__n"))
    w_off = W.orderBy("__b").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "__b",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).cast("long").alias("__off"),
    )
    total = counts.agg(F.sum("__n").cast("long").alias("__total"))
    w_in = W.partitionBy("__b").orderBy("ppl_proxy", "doc_id")
    ranked = (
        rows.join(F.broadcast(offsets), "__b")
        .withColumn("__rn", F.col("__off") + F.row_number().over(w_in))
        .crossJoin(F.broadcast(total))
    )
    k = F.lit(3).cast("long")
    q = (F.col("__total") / k).cast("long")
    rem = F.col("__total") % k
    r0 = F.col("__rn") - 1
    tile = F.when(
        r0 < rem * (q + 1), (r0 / (q + 1)).cast("long")
    ).otherwise(rem + ((r0 - rem * (q + 1)) / F.greatest(q, F.lit(1))).cast("long"))
    bucket_idx = (tile + 1).cast("int")
    return ranked.select(
        "doc_id",
        "ppl_proxy",
        bucket_idx.alias("bucket_idx"),
        F.when(bucket_idx == 1, "head")
        .when(bucket_idx == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )



@register(
    "lm_perplexity_filter",
    ops=("A1", "J3", "N2"),
    bench=True,
    oracle=f"""
        WITH {sql_bigram_lm_ctes()}
        SELECT doc_id, n_bigrams, n_hit_bigrams, score_num, score_den,
               ppl_proxy, keep
        FROM lm
    """,
)
def lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (Wenzek et al. 2020): every
    document scored against an add-one-smoothed bigram LM trained on
    the corpus's own heuristic-gate-passing reference slice, emitting
    the integer score sums, the pooled inverse-probability perplexity
    proxy (ONE double division per doc) and the keep verdict at
    PPL_MAX=29 via integer cross-multiplication — no log/exp anywhere,
    so the DuckDB oracle is bit-exact (see llmops.lm for the model,
    the invariants and the int64 overflow bound).

    Scale: model/context tables are vocabulary-bounded with full
    map-side combine; scoring is one corpus-sized bigram explode and
    two hash equi-joins on token strings (collision-bounded, never
    all-pairs) plus a single-row broadcast scalar; the per-doc
    aggregate combines map-side on doc_id.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_lm_scores(docs)


@register(
    "perplexity_gated_curation",
    ops=("A1", "A3", "J2", "O1"),
    oracle=f"""
        WITH {sql_bigram_lm_ctes()},
        meta AS (
            SELECT d.doc_id, d.source,
                   CAST(len(t.t) AS BIGINT) AS n_tokens,
                   ({sql_lm_gate("t.t")}) AS gate
            FROM documents d JOIN toks t USING (doc_id)
        )
        SELECT m.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) FILTER (WHERE m.gate) AS BIGINT) AS n_gate_pass,
               CAST(COUNT(*) FILTER (WHERE l.keep) AS BIGINT) AS n_lm_keep,
               CAST(COUNT(*) FILTER (WHERE m.gate AND l.keep) AS BIGINT)
                   AS n_kept,
               CAST(SUM(m.n_tokens) AS BIGINT) AS total_tokens,
               CAST(COALESCE(SUM(m.n_tokens)
                    FILTER (WHERE m.gate AND l.keep), 0) AS BIGINT)
                   AS kept_tokens,
               CASE WHEN SUM(m.n_tokens) > 0
                    THEN CAST(COALESCE(SUM(m.n_tokens)
                              FILTER (WHERE m.gate AND l.keep), 0) AS DOUBLE)
                         / CAST(SUM(m.n_tokens) AS DOUBLE)
                    ELSE 0.0 END AS token_keep_share
        FROM meta m JOIN lm l USING (doc_id)
        GROUP BY m.source
        ORDER BY m.source
    """,
)
def perplexity_gated_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perplexity gate composed into a per-source curation report:
    for each source, how many documents pass the heuristic gate, the
    LM keep verdict, and BOTH (the double-gated training set), plus
    the token mass each source contributes after gating and its
    keep-share (one int/int double division per source). The report a
    curation run reads to see which sources the LM filter is actually
    dropping.

    Scale: one extra per-row token count + per-source aggregate on top
    of the lm_perplexity_filter plan — the heavy stages are shared,
    the report shuffle is source-cardinality metadata.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    from martian_moments_spark.llmops.textops import tokens as _toks

    t = _toks("text")
    meta = docs.select(
        "doc_id",
        "source",
        F.size(t).cast("long").alias("n_tokens"),
        lm_gate(t).alias("gate"),
    )
    lm = bigram_lm_scores(docs.select("doc_id", "text")).select("doc_id", "keep")
    both = F.col("gate") & F.col("keep")
    agg = (
        meta.join(lm, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("gate"), 1).otherwise(0))
            .cast("long")
            .alias("n_gate_pass"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_lm_keep"),
            F.sum(F.when(both, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.when(both, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
    )
    share = F.when(
        F.col("total_tokens") > 0,
        F.col("kept_tokens").cast("double") / F.col("total_tokens").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "source",
        "n_docs",
        "n_gate_pass",
        "n_lm_keep",
        "n_kept",
        "total_tokens",
        "kept_tokens",
        share.alias("token_keep_share"),
    ).orderBy("source")
