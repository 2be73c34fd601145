"""Text-analysis primitives: tokenization, portable hashing, quality
metrics, language ID, fingerprinting.

Builders where the DuckDB rendering is reused across queries keep a
``sql_*`` twin here (portable hash, tokens, quality metrics); queries
whose oracle is a one-off CTE inline their SQL next to the query in
plans.queries_llm — one source of truth either way.

Scale notes: all of these are per-row array expressions — narrow, no
shuffle, fully inside whole-stage codegen. The md5-based portable hash
is ~3x slower than xxhash64 but is reproducible in any engine; swap
``portable_hash31`` for ``F.xxhash64`` when cross-engine replay is not
required.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from martian_moments_spark.operators.parallelize import narrow

# Mersenne prime 2^31-1: modulus for all hash arithmetic. Keeps every
# intermediate < 2^36 so BIGINT arithmetic never overflows in either
# engine (DuckDB errors on BIGINT overflow rather than wrapping).
HASH_P = 2_147_483_647


# ---------------------------------------------------------------- tokens

def tokens(col: str = "text") -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(F.col(col), r"\s+"), lambda t: t != "")


def sql_tokens(expr: str = "text") -> str:
    return f"list_filter(regexp_split_to_array({expr}, '\\s+'), t -> t <> '')"


def distinct_tokens(col: str = "text") -> Column:
    """Distinct tokens. Element ORDER differs between engines — only
    use inside order-insensitive reductions (counts, min, sums)."""
    return F.array_distinct(tokens(col))


def term_counts(col: str = "text") -> Column:
    """Per-document term frequencies computed INSIDE the row: an array
    of (term, tf) structs, one per distinct token — semantically
    identical to ``explode(tokens) -> groupBy(doc_id, term).count()``
    but with ZERO shuffle, because every token of a document already
    sits in its row. The classic tf exchange hash-partitions one row
    per corpus TOKEN on a (doc_id, term) key — the widest shuffle in
    any inverted-index build, and the first stage to hit the
    fixed-heap spill cliff as the corpus decades up (measured r08:
    2.4 s at 500k docs -> 26-55 s at 5M on the same 16g heap).

    MEASURED TRADE-OFF (r08 bm25 A/B, warm best-of-2): on THIS
    corpus shape (~28 distinct / ~50 tokens per doc) the per-row
    O(n_tokens x n_distinct) HOF evaluation costs MORE than the
    exchange it removes at every scale tried (1.53/7.04/63.6 s vs
    1.26/3.73/62.3 s at sf1/sf10/sf100) — Catalyst evaluates HOF
    lambdas per element, not vectorized. bm25_probe_ranking therefore
    ships the groupBy form; reach for this helper when per-doc
    distinct counts are small relative to shuffle cost on YOUR
    corpus, and measure."""
    t = tokens(col)
    return F.transform(
        F.array_distinct(t),
        lambda x: F.struct(
            x.alias("term"),
            F.size(F.filter(t, lambda y: y == x)).cast("long").alias("tf"),
        ),
    )


def word_shingles(col: str = "text", n: int = 2) -> Column:
    """n-word shingles (space-joined), the MinHash input unit. Empty
    array (→ NULL min-hashes) for documents with fewer than ``n``
    tokens — guarded explicitly because Spark's sequence(1, 0) counts
    DOWN ([1, 0]) rather than returning empty like SQL engines do.

    The tokens array is bound ONCE as a lambda variable via a
    single-element outer transform (a let-binding — Spark has no
    direct one). Referencing ``tokens(col)`` inside the inner lambda
    instead would re-run the regex split per shingle position per
    referenced offset (Catalyst does not common-subexpression-
    eliminate inside higher-order functions): O(tokens² · text_len)
    per document, measured 15x slower at sf0.1."""

    def shingles_of(t: Column) -> Column:
        count = F.size(t) - (n - 1)
        return F.when(
            count >= 1,
            F.transform(
                F.sequence(F.lit(1), count),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens(col)), shingles_of), 1)




# ---------------------------------------------------------------- hashing

def portable_hash31(col: Column) -> Column:
    """Deterministic 31-bit string hash reproducible in any engine:
    first 8 hex chars of md5, as an integer, mod 2^31-1."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % F.lit(HASH_P)
    )


def sql_portable_hash31(expr: str) -> str:
    return f"((('0x' || substr(md5({expr}), 1, 8))::BIGINT) % {HASH_P})"


def rolling_fingerprint(col: str = "text") -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash
    h = fold(tokens, h*31 + hash(t) mod P). Two documents with the
    same tokens in different order fingerprint differently (contrast
    SimHash, which is order-insensitive)."""
    return F.aggregate(
        tokens(col),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + portable_hash31(t)) % F.lit(HASH_P),
    )




# ---------------------------------------------------------------- quality

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")


def quality_metrics(col: str = "text") -> dict[str, Column]:
    """Heuristic quality signals: counts and ratios. Ratios are exact
    integer/integer double divisions — deterministic cross-engine."""
    toks = tokens(col)
    n_tok = F.size(toks).cast("long")
    n_chr = F.length(F.col(col)).cast("long")
    stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))).cast("long")
    return {
        "n_tokens": n_tok,
        "n_chars_measured": n_chr,
        "avg_token_len": F.when(
            n_tok > 0,
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).cast(
                "double"
            )
            / n_tok.cast("double"),
        ).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(
            n_tok > 0, stop.cast("double") / n_tok.cast("double")
        ).otherwise(F.lit(0.0)),
        "distinct_ratio": F.when(
            n_tok > 0,
            F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double"),
        ).otherwise(F.lit(0.0)),
    }


def quality_metrics_packed(col: str = "text") -> Column:
    """All quality_metrics signals as ONE struct column computed from a
    SINGLE tokenization: the tokens array is bound once as a lambda
    variable (the word_shingles let-binding trick), where selecting the
    individual quality_metrics expressions re-runs the regex split once
    per metric (HOF arguments are re-evaluated; no CSE). Same values,
    ~1.7x faster on the documents corpus — use this form whenever a
    query consumes two or more metrics. Unpack via the two-step
    ``.select(packed.alias("q")).select(F.col("q.n_tokens"), ...)``
    pattern — a direct ``packed["field"]`` reference makes
    CollapseProject re-inline the whole struct per field. Predicate
    pushdown can still substitute the struct into a FILTER on an
    unpacked field (it has no expression-cost guard); measured on the
    corpus, that case is a wash vs the unpacked form while projection
    shapes keep the full ~1.7x win — so packed is never worse."""

    def build(toks: Column) -> Column:
        n_tok = F.size(toks).cast("long")
        stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))).cast("long")
        return F.struct(
            n_tok.alias("n_tokens"),
            F.length(F.col(col)).cast("long").alias("n_chars_measured"),
            F.when(
                n_tok > 0,
                F.aggregate(
                    toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
                ).cast("double")
                / n_tok.cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_token_len"),
            F.when(n_tok > 0, stop.cast("double") / n_tok.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("stopword_ratio"),
            F.when(
                n_tok > 0,
                F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("distinct_ratio"),
        )

    return F.element_at(F.transform(F.array(tokens(col)), build), 1)


def sql_quality_metrics(expr: str = "text") -> dict[str, str]:
    toks = sql_tokens(expr)
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_tok = f"CAST(len({toks}) AS BIGINT)"
    return {
        "n_tokens": n_tok,
        "n_chars_measured": f"CAST(length({expr}) AS BIGINT)",
        "avg_token_len": (
            f"CASE WHEN {n_tok} > 0 THEN CAST(list_sum(list_transform({toks}, "
            f"t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / CAST({n_tok} AS DOUBLE) "
            f"ELSE 0.0 END"
        ),
        "stopword_ratio": (
            f"CASE WHEN {n_tok} > 0 THEN CAST(len(list_filter({toks}, "
            f"t -> lower(t) IN ({stops}))) AS DOUBLE) / CAST({n_tok} AS DOUBLE) "
            f"ELSE 0.0 END"
        ),
        "distinct_ratio": (
            f"CASE WHEN {n_tok} > 0 THEN CAST(len(list_distinct({toks})) AS DOUBLE) "
            f"/ CAST({n_tok} AS DOUBLE) ELSE 0.0 END"
        ),
    }


# ---------------------------------------------------------------- language ID

# Tiny per-language marker-word lists (n-gram/stopword heuristic). The
# synthetic corpus is vocabulary-uniform, so on testdata this mostly
# exercises mechanics; on real text the lists do the work.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "que", "de", "es"),
    "fr": ("le", "la", "et", "les", "est"),
    "zh": ("的", "是", "了", "不", "在"),
}


def language_scores(col: str = "text") -> dict[str, Column]:
    toks = distinct_tokens(col)
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))).cast(
            "int"
        )
        for lang, markers in LANG_MARKERS.items()
    }


def predicted_language(col: str = "text") -> Column:
    """argmax over language scores; ties resolve in LANG_MARKERS order
    (en first) so the prediction is deterministic."""
    scores = language_scores(col)
    langs = list(scores)
    best = scores[langs[0]]
    for lang in langs[1:]:
        best = F.greatest(best, scores[lang])
    out = F.lit("unknown")
    for lang in reversed(langs):
        out = F.when((scores[lang] == best) & (best > 0), lang).otherwise(out)
    return out




# --------------------------------------------- substring-granularity dedup

# Character-granularity repeated-substring detection (the suffix-array
# exact-substring dedup family of Lee et al. 2022, re-expressed with
# content-defined anchors instead of a suffix sort — a corpus-wide
# suffix array cannot be built in one partition at 100 TB, and a
# distributed suffix sort shuffles every rotation of every document).
# Every k-char gram whose portable hash is 0 mod CHAR_ANCHOR_SEL is an
# ANCHOR; anchor selection depends only on gram CONTENT, so two copies
# of a repeated substring select identical anchors at identical
# relative offsets regardless of alignment (the content-defined-
# chunking property, LBFS/rsync lineage). Recall on a repeated span
# with m eligible gram positions is 1-(1-1/SEL)^m — exponentially
# close to 1 for spans meaningfully longer than k (SEL=4: a span with
# 25 gram positions is missed with p ~ 7e-4); anchor density is a
# fixed 1/SEL of gram positions, so the exploded relation is a
# constant fraction of corpus size at any scale.
CHAR_ANCHOR_K = 24  # gram width (~5 words of English text)
CHAR_ANCHOR_SEL = 4  # keep grams with hash % SEL == 0 (density 1/4)
# int64 packing base for (len, start) / (doc, pos) argmin-argmax
# tricks; valid while doc positions < 2^31 and doc_id < 2^32
SPAN_PACK = 1 << 31


def char_anchor_grams(
    docs: DataFrame,
    k: int = CHAR_ANCHOR_K,
    sel: int = CHAR_ANCHOR_SEL,
    spread: bool | None = None,
) -> DataFrame:
    """(doc_id, i, g): every anchor-selected k-char gram of ``text``
    with its 1-based position. The anchor filter runs on POSITIONS:
    each candidate position's k-char substring is hashed and 1/sel
    survive; only the surviving positions are then materialized as
    (i, gram) structs, so a rejected gram is hashed and discarded —
    never stored — and peak per-row array memory is O(n + n*k/sel)
    rather than O(n*k) for a long document. Downstream matching
    groups on the gram STRING itself, not a hash of it — a hash
    collision here would ADD a false cross-doc duplicate with no
    verify step to reject it, and a k-char key is no wider than the
    md5 it would replace.

    Parallelism: gram hashing amplifies each input byte ~k-fold, so a
    scan partitioned for its INPUT bytes (one task for a small file)
    serializes the heaviest stage. When ``spread`` is true the docs
    are spread to the session's default parallelism first — a shuffle
    of raw corpus bytes that costs nothing at small scale and is
    skipped at real scale, where the scan already carries more
    partitions than cores (measured: 2.8 s -> 0.4 s for the anchor
    stage at sf0.1, which arrives as one 1.5 MB parquet task).
    Callers decide ``spread`` via parallelize.narrow(docs, memo_key=...)
    so the physical-planning probe happens once per dataset, not
    inside this plan builder (ADVICE r07); ``spread=None`` falls back
    to an un-memoized probe for ad-hoc library use."""
    if spread is None:
        spread = narrow(docs)
    if spread:
        docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    t = F.col("text")
    n = F.length(t)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.array().cast("array<int>")
    )
    keep = F.filter(
        idx, lambda i: portable_hash31(t.substr(i, F.lit(k))) % sel == 0
    )
    pairs = F.transform(
        keep,
        lambda i: F.struct(i.alias("i"), t.substr(i, F.lit(k)).alias("g")),
    )
    return docs.select("doc_id", F.explode(pairs).alias("a")).select(
        "doc_id", "a.i", "a.g"
    )


def sql_char_anchor_cte(k: int = CHAR_ANCHOR_K, sel: int = CHAR_ANCHOR_SEL) -> str:
    """DuckDB CTE body mirroring char_anchor_grams exactly: same
    grams, same md5-derived selection hash, same 1-based positions."""
    # The TABLE functions generate_series/range reject lateral column
    # refs in DuckDB 1.0; the LIST-valued range(1, n) + unnest form
    # accepts them and yields an empty list (no rows, no error) for
    # too-short docs where n <= 1.
    return f"""
        SELECT doc_id, CAST(i AS INT) AS i, substr(text, CAST(i AS INT), {k}) AS g
        FROM (
            SELECT doc_id, text,
                   unnest(range(1, greatest(length(text) - {k - 1}, 0) + 1)) AS i
            FROM documents
        ) u
        WHERE ({sql_portable_hash31(f"substr(text, CAST(i AS INT), {k})")} % {sel}) = 0
    """
