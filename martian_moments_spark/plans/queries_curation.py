"""Training-data curation queries, round 5: semantic dedup over
quantizer cells (SemDeDup shape), lexical importance resampling (DSIR
shape), contamination auditing by split, tokenizer-vocabulary coverage,
and Zipf-tail mass — the corpus-engineering passes a large-scale
pretraining pipeline runs between raw crawl and training mix.

Every score is integer or integer-ratio arithmetic from the md5
portable hash / fixed-point units, so the DuckDB oracles replay
bit-for-bit (the engine's exactness conventions: integer
cross-multiplication instead of float thresholds, one final division
for ratios, deterministic tie-breaks)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from martian_moments_spark.catalog import load, table_rows
from martian_moments_spark.llmops.dsir import dsir_weights, sql_dsir_ctes
from martian_moments_spark.llmops.similarity import (
    K_CELLS,
    KMEANS_SAMPLE,
    hard_negatives_cells_pandas,
    kmeans_units,
    semdedup_verdicts_pandas,
    sql_kmeans_ctes,
)
from martian_moments_spark.llmops.textops import (
    HASH_P,
    portable_hash31,
    sql_portable_hash31,
    sql_tokens,
    tokens,
    word_shingles,
)
from martian_moments_spark.plans.queries_llm import (
    DECONTAM_BENCH_MOD,
    DECONTAM_NGRAM,
    _SQL_KMEANS,
    _SQL_TOKS,
    _SQL_UNITS,
    _SQL_VEC_HASH,
    _sql_shingles_n,
    kmeans_units_corpus,
)
from martian_moments_spark.plans.registry import register

SEMDEDUP_TAU = 0.30  # within-cell cosine cut (isotropic test corpus —
# real embeddings run ~0.95+; the dial, not the mechanism)


@register(
    "semantic_dedup_cells",
    ops=("J2", "A6"),
    oracle=f"""
        WITH {_SQL_KMEANS}, pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(list_sum(list_transform(list_zip(a.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS dot,
                   a.norm2 AS na, b.norm2 AS nb
            FROM kassign a JOIN kassign b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
        ), dup AS (
            SELECT id_b AS vec_id, MIN(id_a) AS dup_of
            FROM pairs
            WHERE CAST(dot AS DOUBLE)
                  / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
                  >= {SEMDEDUP_TAU}
            GROUP BY id_b
        )
        SELECT k.vec_id, CAST(k.cell AS INT) AS cell, d.dup_of,
               d.dup_of IS NULL AS is_kept
        FROM kassign k LEFT JOIN dup d ON k.vec_id = d.vec_id
    """,
)
def semantic_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication over quantizer cells — the SemDeDup
    shape (Abbas et al. 2023: k-means the embeddings, compare cosine
    only WITHIN each cell, drop near-identical members keeping one
    representative). The published answer to "embedding near-dup
    without an all-pairs scan": clustering bounds the quadratic to
    within-cell, exactly like IVF bounds ANN search.

    Greedy keep-lowest decision (min id_a per duplicated id_b), the
    same shuffle-bounded rule as fuzzy_dedup_pipeline — corpus dedup
    wants the cheap greedy pass; the transitive-closure variant is
    dedup_connected_components.

    Scale: the REGISTERED query scales its cell count with the corpus
    (kmeans_units_corpus / the oracle's seed-LIMIT subquery — identical
    integers in both engines, ADAPT_CELL_TARGET-vector cells), so
    within-cell pairs stay O(N * cell_size) — linear — at every size,
    and the quantizer still replays bit-for-bit in DuckDB (same
    sample, seeds, integer distances, tie-breaks).
    Execution is one shuffle on the cell key + one int64 Gram matmul
    per cell (similarity.semdedup_verdicts_pandas — the same Arrow
    seam as the IVF search stage), emitting one verdict row per
    vector; an earlier pair-join form pushed every within-cell pair
    through JVM array dot products for identical output and the
    decade sweep measured it at 57 s at sf1.
    """
    assigned, _ = kmeans_units_corpus(load(spark, sf_dir, "embeddings"), sf_dir)
    return semdedup_verdicts_pandas(assigned, SEMDEDUP_TAU)


# Target-domain marker vocabulary for importance resampling — the
# stand-in for DSIR's target-distribution n-gram model (a real run
# derives it from the target corpus; the mechanism is identical).
DSIR_TARGET_VOCAB: tuple[str, ...] = (
    "data", "query", "table", "join", "stream", "batch", "vector", "hash",
)
DSIR_ACCEPT_SCALE = 10_000  # acceptance granularity (basis points)


@register(
    "importance_weighted_sampling",
    ops=("P7", "A1"),
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source,
                   CAST(len(list_filter({sql_tokens("text")},
                        t -> list_contains({list(DSIR_TARGET_VOCAB)!r}, t))) AS BIGINT)
                       AS target_hits,
                   CAST(len({sql_tokens("text")}) AS BIGINT) AS n_tokens
            FROM documents
        )
        SELECT doc_id, source, target_hits, n_tokens,
               ({sql_portable_hash31("'dsir:' || CAST(doc_id AS VARCHAR)")}
                % {DSIR_ACCEPT_SCALE}) * n_tokens
                 < target_hits * {DSIR_ACCEPT_SCALE} AS accepted
        FROM scored
    """,
)
def importance_weighted_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling toward a target domain — the DSIR shape
    (Xie et al. 2023: score each doc by how target-like it is, accept
    with probability proportional to the importance weight). Here the
    weight is the target-vocabulary hit ratio (hits / n_tokens) and
    acceptance is the engine's reproducible hash-thresholding —
    decided by INTEGER cross-multiplication (hash % S) * n_tokens <
    hits * S, so no float threshold exists anywhere and the oracle
    replays the exact accept set.

    Scale: pure per-row expression work (one tokenization, one hash) —
    a 100 TB corpus maps through with zero data movement; changing the
    target vocabulary re-scores without re-shuffling anything.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tk = tokens("text")
    hits = F.size(
        F.filter(tk, lambda t: t.isin(*DSIR_TARGET_VOCAB))
    ).cast("long")
    n = F.size(tk).cast("long")
    h = portable_hash31(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string")))
    return docs.select(
        "doc_id",
        "source",
        hits.alias("target_hits"),
        n.alias("n_tokens"),
        (
            (h % DSIR_ACCEPT_SCALE) * F.col("n_tokens")
            < F.col("target_hits") * DSIR_ACCEPT_SCALE
        ).alias("accepted"),
    ).select("doc_id", "source", "target_hits", "n_tokens", "accepted")


@register(
    "contamination_split_report",
    ops=("J2", "A1", "A3"),
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
        ), contaminated AS (
            SELECT DISTINCT s.doc_id
            FROM sh s JOIN bench b USING (sh)
            WHERE s.doc_id % {DECONTAM_BENCH_MOD} <> 0
        )
        SELECT CASE WHEN {sql_portable_hash31("'split:' || CAST(d.doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
                    WHEN {sql_portable_hash31("'split:' || CAST(d.doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
                    ELSE 'test' END AS split,
               d.lang,
               c.doc_id IS NOT NULL AS contaminated,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({sql_tokens("d.text")})) AS BIGINT) AS total_tokens
        FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
        WHERE d.doc_id % {DECONTAM_BENCH_MOD} <> 0
        GROUP BY 1, 2, 3
    """,
)
def contamination_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination audit BY SPLIT — the report a data team reads
    before shipping a mix: for each (split, lang), how many corpus
    docs (and tokens) share a benchmark 4-gram and would leak eval
    signal into training. curation_to_training_mix silently DROPS the
    contaminated mass; this query measures it per destination split,
    which is what tells you whether the test split's contamination
    rate differs from train's (it must not — the split hash is
    independent of the contamination signal).

    Scale: same broadcast-decontamination join as the curation
    pipeline (bench shingles are the bounded side), split assignment
    is per-row hash math, and the final rollup shuffles a dozen keys.
    """
    from martian_moments_spark.operators.parallelize import spread

    # shingle explode + final tokenize both ride the one-split scan at
    # gate scale (r11 profile: 0.51 s single-task stage); spread first
    # — identity at real scale.
    docs = spread(
        load(spark, sf_dir, "documents").select("doc_id", "lang", "text"), "doc_id"
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
    bench_sh = sh.filter(is_bench).select("sh").distinct()
    contaminated = (
        sh.filter(~is_bench)
        .join(F.broadcast(bench_sh), "sh")
        .select("doc_id")
        .distinct()
        .withColumn("__c", F.lit(True))
    )
    h = portable_hash31(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    return (
        docs.filter(~is_bench)
        .join(contaminated, "doc_id", "left")
        .select(
            F.when(h < 90, "train").when(h < 95, "val").otherwise("test").alias("split"),
            "lang",
            F.coalesce(F.col("__c"), F.lit(False)).alias("contaminated"),
            F.size(tokens("text")).cast("long").alias("__n_tokens"),
        )
        .groupBy("split", "lang", "contaminated")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n_tokens").cast("long").alias("total_tokens"),
        )
    )


VOCAB_HEAD_K = 16  # tokenizer head-vocabulary size under audit


@register(
    "tokenizer_vocab_coverage",
    ops=("A1", "W1", "J1"),
    oracle=f"""
        WITH occ AS (
            SELECT source, UNNEST({sql_tokens("text")}) AS token
            FROM documents
        ), counts AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM occ GROUP BY token
        ), head AS (
            SELECT token FROM (
                SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rn
                FROM counts
            ) WHERE rn <= {VOCAB_HEAD_K}
        )
        SELECT o.source,
               CAST(COUNT(*) AS BIGINT) AS total_occurrences,
               CAST(SUM(CASE WHEN h.token IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS head_occurrences,
               CAST(COUNT(DISTINCT CASE WHEN h.token IS NULL THEN o.token END) AS BIGINT)
                   AS oov_types,
               CAST(SUM(CASE WHEN h.token IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS coverage
        FROM occ o LEFT JOIN head h ON o.token = h.token
        GROUP BY o.source
    """,
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage per source: what fraction of a
    source's token occurrences a head vocabulary (top-16
    corpus tokens, deterministic count-then-lexicographic tie-break)
    captures, and how many out-of-vocabulary types remain — the audit
    that decides whether a tokenizer's vocab budget fits a new data
    source (low coverage -> byte-fallback blowup -> token-budget
    overruns). Coverage is one exact int/int division.

    Scale: the head vocabulary is a top-K over corpus token counts —
    full map-side combine then a 16-row broadcast back
    over the occurrence stream; per-source rollup shuffles one small
    key. The occurrence explode is the only fan-out and feeds both
    aggregates from one scan.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    occ = docs.select("source", F.explode(tokens("text")).alias("token"))
    counts = occ.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    head = (
        counts.withColumn(
            "rn", F.row_number().over(W.orderBy(F.col("n").desc(), F.col("token")))
        )
        .filter(F.col("rn") <= VOCAB_HEAD_K)
        .select("token")
        .withColumn("__h", F.lit(True))
    )
    joined = occ.join(F.broadcast(head), "token", "left")
    in_head = F.col("__h").isNotNull()
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_occurrences"),
        F.sum(F.when(in_head, 1).otherwise(0)).cast("long").alias("head_occurrences"),
        F.count_distinct(F.when(~in_head, F.col("token"))).alias("oov_types"),
        (
            F.sum(F.when(in_head, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("coverage"),
    )


TAIL_KS = (1, 2, 5, 10)  # rare-token thresholds (count <= k)


@register(
    "rare_token_tail_mass",
    ops=("A1", "A3"),
    oracle=f"""
        WITH counts AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT UNNEST({sql_tokens("text")}) AS token FROM documents)
            GROUP BY token
        ), ks(k) AS (VALUES {", ".join(f"({k})" for k in TAIL_KS)})
        SELECT CAST(ks.k AS INT) AS k,
               CAST(SUM(CASE WHEN c.n <= ks.k THEN 1 ELSE 0 END) AS BIGINT) AS tail_types,
               CAST(SUM(CASE WHEN c.n <= ks.k THEN c.n ELSE 0 END) AS BIGINT) AS tail_occurrences,
               CAST(SUM(c.n) AS BIGINT) AS total_occurrences,
               CAST(SUM(CASE WHEN c.n <= ks.k THEN c.n ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(c.n) AS DOUBLE) AS tail_mass
        FROM counts c CROSS JOIN ks
        GROUP BY ks.k
    """,
)
def rare_token_tail_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-tail mass: for each rarity threshold k, the number of
    token types seen at most k times and the fraction of ALL token
    occurrences they carry — the heavy-tail diagnostic behind
    vocabulary sizing and min-count filters (a corpus whose mass sits
    in singletons tokenizes badly and memorizes easily). Complements
    vocabulary_growth_heaps (type growth) with occupancy of the tail.

    Scale: one explode + count aggregate (full map-side combine), then
    a 4-row constant dimension joined in a single pass
    over the distinct-token counts — no second corpus scan, no window.
    The final frame is 4 rows.
    """
    docs = load(spark, sf_dir, "documents").select("text")
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ks = F.array(*[F.lit(k) for k in TAIL_KS])
    return (
        counts.select("n", F.explode(ks).alias("k"))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("n") <= F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("tail_types"),
            F.sum(F.when(F.col("n") <= F.col("k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("tail_occurrences"),
            F.sum("n").cast("long").alias("total_occurrences"),
            (
                F.sum(F.when(F.col("n") <= F.col("k"), F.col("n")).otherwise(0)).cast("double")
                / F.sum("n").cast("double")
            ).alias("tail_mass"),
        )
        .select(
            F.col("k").cast("int").alias("k"),
            "tail_types",
            "tail_occurrences",
            "total_occurrences",
            "tail_mass",
        )
    )


from martian_moments_spark.llmops.pq import (  # noqa: E402
    codebook_df,
    pq_encode,
    pq_train_codebooks,
    subspace_sqdist,
)
from martian_moments_spark.plans.queries_llm import (  # noqa: E402
    _PQ_NQ,
    _PQ_SUB,
    _SQL_PQ,
)


@register(
    "embedding_ann_ivfpq",
    ops=("J1", "J2", "W2", "O2"),
    oracle=f"""
        WITH {_SQL_KMEANS}, {_SQL_PQ}, qset AS (
            SELECT vec_id AS query_id, units AS qunits, cell AS qcell
            FROM kassign ORDER BY vec_id LIMIT {_PQ_NQ}
        ), lut AS (
            SELECT q.query_id, q.qcell, c.m, c.code,
                   CAST(list_sum(list_transform(
                        list_zip(list_slice(q.qunits, c.m * {_PQ_SUB} + 1,
                                            (c.m + 1) * {_PQ_SUB}), c.c),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS pdist
            FROM qset q CROSS JOIN pcents c
        ), adc AS (
            SELECT l.query_id, e.vec_id, ka.cell,
                   CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
            FROM penc e
            JOIN kassign ka ON ka.vec_id = e.vec_id
            JOIN lut l ON e.m = l.m AND e.code = l.code AND ka.cell = l.qcell
            WHERE e.vec_id <> l.query_id
            GROUP BY l.query_id, e.vec_id, ka.cell
        )
        SELECT query_id, vec_id AS neighbor_id, adc_dist,
               CAST(rn AS INT) AS rank, CAST(cell AS INT) AS cell
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rn
              FROM adc)
        WHERE rn <= 5
    """,
)
def embedding_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the full FAISS architecture, both halves composed: the
    coarse k-means quantizer routes each query to its cell (IVF half,
    embedding_ann_ivf) and the scan WITHIN the cell runs on PQ codes
    via an ADC lookup-table join instead of raw vectors (PQ half,
    embedding_pq_topk). Search cost becomes cell_size * (codes not
    floats) — the shape that holds a 100 TB corpus in searchable
    memory. Training, encoding, routing, and search are all integer /
    IEEE-exact, so the DuckDB oracle replays the ENTIRE index build
    and search hash-exactly.

    Scale: both codebooks train driver-side on bounded deterministic
    samples; encoding and cell assignment are single mapInPandas
    streaming passes; the only search shuffle is the (m, code, cell)
    hash join of the broadcast per-query LUT against the coded corpus,
    followed by a per-query top-k window. Cells scale with the corpus
    in the registered query itself (kmeans_units_corpus / the oracle's
    seed-LIMIT subquery — the same corpus-scaled quantizer as
    embedding_ann_ivf).
    """
    emb = load(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_units_corpus(emb, sf_dir)
    base, books = pq_train_codebooks(emb)
    enc = pq_encode(base, books)
    enc_long = (
        enc.select("vec_id", F.posexplode("codes").alias("m", "code"))
        .withColumn("m", F.col("m").cast("int"))
        .join(assigned.select("vec_id", "cell"), "vec_id")
    )
    qset = (
        assigned.orderBy("vec_id")
        .limit(_PQ_NQ)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("units").alias("qunits"),
            F.col("cell").alias("qcell"),
        )
    )
    cb = codebook_df(spark, books)
    lut = qset.crossJoin(F.broadcast(cb)).select(
        "query_id",
        "qcell",
        "m",
        "code",
        subspace_sqdist(
            F.slice(F.col("qunits"), F.col("m") * _PQ_SUB + 1, _PQ_SUB),
            F.col("centroid"),
        ).alias("pdist"),
    )
    adc = (
        enc_long.alias("e")
        .join(
            F.broadcast(lut).alias("l"),
            (F.col("e.m") == F.col("l.m"))
            & (F.col("e.code") == F.col("l.code"))
            & (F.col("e.cell") == F.col("l.qcell")),
        )
        .filter(F.col("e.vec_id") != F.col("l.query_id"))
        .groupBy("l.query_id", "e.vec_id", "e.cell")
        .agg(F.sum("l.pdist").cast("long").alias("adc_dist"))
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_dist",
            "rank",
            F.col("cell").cast("int").alias("cell"),
        )
        .filter(F.col("rank") <= 5)
    )


TRAIN_BUDGET_TOKENS = 1_000_000  # training-run token budget apportioned
# uniformly across sources (the mechanism under audit; real runs feed
# mixture weights — mixture_temperature_weights — into the same math)
EPOCH_CAP_BP = 40_000  # 4 epochs in basis points: the data-constrained
# scaling finding that repeating data beyond ~4 epochs rapidly stops
# buying loss (Muennighoff et al. 2023, public scaling-law literature)


@register(
    "effective_epochs_data_constrained",
    ops=("A1", "W2", "P8"),
    oracle=f"""
        WITH per AS (
            SELECT source,
                   CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), w AS (
            SELECT source, n_tokens,
                   CAST({TRAIN_BUDGET_TOKENS} // COUNT(*) OVER () AS BIGINT)
                       AS allocated_tokens
            FROM per
        )
        SELECT source, n_tokens, allocated_tokens,
               CAST(CASE WHEN n_tokens > 0
                         THEN allocated_tokens * 10000 // n_tokens
                         ELSE 0 END AS BIGINT) AS epochs_bp,
               CASE WHEN n_tokens > 0
                    THEN allocated_tokens * 10000 // n_tokens
                    ELSE 0 END > {EPOCH_CAP_BP} AS over_repeat_cap,
               CAST(LEAST(allocated_tokens, n_tokens * 4) AS BIGINT)
                   AS effective_tokens
        FROM w
    """,
)
def effective_epochs_data_constrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained training audit: when the token budget exceeds
    a source's unique tokens, the source gets repeated — and repeats
    beyond ~4 epochs buy almost nothing (the data-constrained scaling
    result). Per source: unique token mass, the budget share a uniform
    apportionment allocates, the implied epoch count in basis points,
    the over-the-cap flag, and the value-bearing token count with
    repeats clipped at 4 epochs. This is the report that tells a
    100 TB pipeline which sources need MORE crawling rather than more
    sampling weight.

    Epochs are integer basis points (allocated * 10000 DIV unique) —
    no float division until nothing downstream consumes it; the
    over-cap flag compares the same integer, so both engines agree
    bit-for-bit.

    Scale: one map-side-combined aggregate on source; the budget
    split is a window over the per-source frame (metadata-scale, one
    row per source)."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    per = (
        docs.select("source", F.size(tokens("text")).cast("long").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_tokens"))
    )
    # integer budget split: BUDGET DIV n_sources (metadata-scale window)
    n_src = F.count(F.lit(1)).over(W.partitionBy())
    w = per.withColumn("n_src", n_src).withColumn(
        "allocated_tokens", F.expr(f"{TRAIN_BUDGET_TOKENS} DIV n_src").cast("long")
    )
    epochs_bp = F.when(
        F.col("n_tokens") > 0,
        F.expr("allocated_tokens * 10000 DIV n_tokens"),
    ).otherwise(F.lit(0)).cast("long")
    return w.select(
        "source",
        "n_tokens",
        "allocated_tokens",
        epochs_bp.alias("epochs_bp"),
        (epochs_bp > EPOCH_CAP_BP).alias("over_repeat_cap"),
        F.least(F.col("allocated_tokens"), F.col("n_tokens") * 4)
        .cast("long")
        .alias("effective_tokens"),
    )


@register(
    "ivf_cell_balance_report",
    ops=("A1", "W2"),
    oracle=f"""
        WITH {_SQL_KMEANS}, per AS (
            SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
            FROM kassign GROUP BY cell
        )
        SELECT CAST(cell AS INT) AS cell, n_vecs,
               CAST(n_vecs * 10000 // SUM(n_vecs) OVER () AS BIGINT) AS share_bp,
               CAST(n_vecs * COUNT(*) OVER () * 10000 // SUM(n_vecs) OVER () AS BIGINT)
                   AS balance_bp
        FROM per
    """,
)
def ivf_cell_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF shard-balance audit: per quantizer cell — vector count,
    corpus share, and the balance ratio (cell share x cell count, in
    basis points; 10000 = perfectly balanced). The operational
    planning report for ANN at scale: a cell holding 3x its fair
    share is the executor that straggles every probe, and the fix
    (re-train the quantizer, or split the hot cell) happens BEFORE
    serving, from exactly this table. Same deterministic k-means seam
    as embedding_ann_ivf / embedding_ann_ivfpq, so the oracle replays
    the index build and the report hash-exactly.

    The fair-share denominator is the OBSERVED cell count (a window
    count over the per-cell rows), not a pinned constant — with the
    corpus-scaled quantizer the cell count grows with the corpus, and
    empty cells dropped during training must not dilute the ratio.

    Scale: the assignment pass is the index build already paid for;
    the report is one map-side-combined aggregate on cell plus a
    window over cell-count rows (metadata-scale)."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_units_corpus(emb, sf_dir)
    per = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    total = F.sum("n_vecs").over(W.partitionBy())
    n_cells = F.count(F.lit(1)).over(W.partitionBy())
    return per.select(
        F.col("cell").cast("int").alias("cell"),
        "n_vecs",
        F.expr("n_vecs * 10000").cast("long").alias("_num"),
        total.alias("_tot"),
        n_cells.alias("_k"),
    ).select(
        "cell",
        "n_vecs",
        F.expr("_num DIV _tot").cast("long").alias("share_bp"),
        F.expr("_num * _k DIV _tot").cast("long").alias("balance_bp"),
    )


HN_K = 3  # hard negatives mined per anchor

#: Target quantizer-cell size for negative mining. The cell COUNT
#: scales with the corpus (GREATEST(K_CELLS, n // target)), so the
#: within-cell Gram stays ~target^2 per cell and total mining work is
#: O(n * target) — LINEAR in corpus size. A pinned cell count would
#: make cells grow with the corpus and the within-cell quadratic with
#: them (the r05 decade sweep flagged exactly that at 12.1x per 10x
#: rows). Both engines compute the identical integer: Spark from
#: count(), the oracle from the scalar subquery in the seed LIMIT.
HN_CELL_TARGET = 64
_HN_K_SQL = f"(SELECT GREATEST({K_CELLS}, COUNT(*) // {HN_CELL_TARGET}) FROM embeddings)"
# sample scales with the cell count (identity below ~131k vectors at
# the 64-vector HN target — see the KMEANS_SAMPLE scale note).
_HN_SAMPLE_SQL = f"GREATEST({KMEANS_SAMPLE}, 2 * {_HN_K_SQL})"


@register(
    "hard_negative_mining",
    ops=("J2", "W2", "O2"),
    oracle=f"""
        WITH {sql_kmeans_ctes(_SQL_UNITS, _SQL_VEC_HASH, k=_HN_K_SQL, sample=_HN_SAMPLE_SQL)}, pairs AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neg_id,
                   CAST(list_sum(list_transform(list_zip(a.units, b.units),
                        z -> z[1] * z[2])) AS BIGINT) AS dot,
                   a.norm2 AS na, b.norm2 AS nb
            FROM kassign a JOIN kassign b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), lab AS (
            SELECT vec_id, label FROM embeddings
        ), cos AS (
            SELECT p.query_id, la.label AS query_label,
                   p.neg_id, lb.label AS neg_label,
                   CAST(p.dot AS DOUBLE)
                   / (sqrt(CAST(p.na AS DOUBLE)) * sqrt(CAST(p.nb AS DOUBLE)))
                       AS cosine
            FROM pairs p
            JOIN lab la ON la.vec_id = p.query_id
            JOIN lab lb ON lb.vec_id = p.neg_id
            WHERE la.label <> lb.label
        )
        SELECT query_id, CAST(query_label AS INT) AS query_label,
               neg_id, CAST(neg_label AS INT) AS neg_label,
               cosine, CAST(rn AS INT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id ORDER BY cosine DESC, neg_id) AS rn
              FROM cos)
        WHERE rn <= {HN_K}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for every
    anchor vector, the HN_K most-similar vectors carrying a DIFFERENT
    label — the negatives that actually move an embedding model
    (random negatives are trivially separable; the hard ones sit just
    across the decision boundary). The search is IVF-bounded: anchors
    only scan their own quantizer cell, so the cost is cell_size per
    anchor, not corpus — the only shape that mines negatives for a
    100 TB corpus every epoch.

    Scale: one shuffle on the cell key, one int64 Gram matmul per cell
    with a per-anchor different-label mask
    (similarity.hard_negatives_cells_pandas, the SemDeDup/IVF Arrow
    seam); ranking is (cosine DESC, neg_id) in cosine_fixed's float
    discipline, so the oracle's window replays it bit-for-bit. Anchors
    whose cell holds no other label emit nothing (both engines agree:
    no candidate rows exist).

    The quantizer is CORPUS-SCALED (HN_CELL_TARGET): cell count =
    max(K_CELLS, n // 64), so cells stay ~64 vectors and total work is
    linear in n — the fixed-cell-count form grew quadratically within
    cells and the decade sweep flagged it at 12.1x per 10x rows. The
    one scalar count() below is the same bounded-metadata pattern as
    the quantizer's sample train; the oracle computes the identical k
    in its seed LIMIT subquery.
    """
    emb = load(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")
    if n is None:
        n = emb.count()
    k_cells = max(K_CELLS, n // HN_CELL_TARGET)
    assigned, _ = kmeans_units(
        emb, k=k_cells, sample=max(KMEANS_SAMPLE, 2 * k_cells)
    )
    with_lab = assigned.join(
        emb.select("vec_id", F.col("label").cast("int").alias("label")), "vec_id"
    )
    return hard_negatives_cells_pandas(with_lab, k=HN_K)


OUTLIER_FACTOR = 4  # dist2 > FACTOR x cell mean => outlier


@register(
    "embedding_outlier_pruning",
    ops=("J1", "W2", "P8"),
    oracle=f"""
        WITH {_SQL_KMEANS}, d AS (
            SELECT a.vec_id, a.cell,
                   CAST(list_sum(list_transform(list_zip(a.units, c.c),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist2
            FROM kassign a JOIN kcents c ON c.cell = a.cell
        ), s AS (
            SELECT vec_id, cell, dist2,
                   CAST(COUNT(*) OVER (PARTITION BY cell) AS BIGINT) AS n_cell,
                   CAST(SUM(dist2) OVER (PARTITION BY cell) AS BIGINT) AS sum_d2
            FROM d
        )
        SELECT vec_id, CAST(cell AS INT) AS cell, dist2, n_cell,
               dist2 * n_cell > {OUTLIER_FACTOR} * sum_d2 AS is_outlier
        FROM s
    """,
)
def embedding_outlier_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier pruning — the curation pass that drops
    vectors far from their quantizer centroid (mis-embedded, corrupt,
    or off-distribution samples poison both dedup thresholds and ANN
    recall). A vector is an outlier when its exact int64 squared
    distance to its cell centroid exceeds OUTLIER_FACTOR x the cell
    mean; the comparison is integer cross-multiplied
    (dist2 * n_cell > FACTOR * sum_d2), so no division or float ever
    enters the verdict and the oracle replays it exactly.

    Scale: the centroid matrix is a K-row broadcast; the distance is
    one per-row zip_with/aggregate pass (no shuffle); the cell moments
    ride one window over the cell partitioning. Same deterministic
    k-means seam as embedding_ann_ivf / ivf_cell_balance_report.
    """
    emb = load(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_units_corpus(emb, sf_dir)
    cent_df = spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in cents],
        "cell INT, cent ARRAY<BIGINT>",
    )
    d2 = F.aggregate(
        F.zip_with("units", "cent", lambda u, c: (u - c) * (u - c)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    staged = assigned.join(F.broadcast(cent_df), "cell").select(
        F.col("vec_id"), F.col("cell").cast("int").alias("cell"), d2.alias("dist2")
    )
    wc = W.partitionBy("cell")
    return (
        staged.withColumn("n_cell", F.count(F.lit(1)).over(wc).cast("long"))
        .withColumn("sum_d2", F.sum("dist2").over(wc).cast("long"))
        .select(
            "vec_id",
            "cell",
            "dist2",
            "n_cell",
            (
                F.col("dist2") * F.col("n_cell")
                > F.lit(OUTLIER_FACTOR) * F.col("sum_d2")
            ).alias("is_outlier"),
        )
    )


@register(
    "dsir_hashed_ngram_weights",
    ops=("A1", "J1", "N2"),
    oracle=f"""
        WITH {sql_dsir_ctes()}
        SELECT doc_id, n_features, t_num, r_num, weight, keep FROM dsir
    """,
)
def dsir_hashed_ngram_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection, the paper's estimator (Xie et al. 2023):
    importance weight of every raw document under TWO bag-of-hashed-
    bigram models — target (the heuristic-gate reference slice) vs
    raw pool — with the exact-arithmetic pooling documented in
    llmops/dsir.py (two int64 evidence sums, one division; the keep
    verdict is an integer cross-multiplication, no float threshold).
    Upgrades the lexical hit-ratio form (importance_weighted_sampling)
    to the real two-model likelihood-ratio estimator.

    Scale: both models are built in ONE corpus pass via conditional
    aggregation and are bounded at DSIR_BUCKETS rows (the paper's
    hashing trick) — broadcast-sized at any corpus scale; scoring is
    one bigram explode + one broadcast join + one map-side-combinable
    groupBy(doc_id). Nothing shuffles on a key wider than doc_id."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return dsir_weights(docs, memo_key=sf_dir + ":documents")


#: tokens per training shard (the manifest granularity). Test-scale
#: value; production shards run ~100M tokens — a dial, not a mechanism.
SHARD_TOKEN_BUDGET = 2_048
#: range buckets of the phase-1 split (parallelism of the global
#: cumsum; at 100 TB raise toward cluster parallelism).
SHARD_RANGE_BUCKETS = 64
_SHARD_BUCKET_WIDTH = HASH_P // SHARD_RANGE_BUCKETS + 1


@register(
    "training_shard_manifest",
    ops=("W1", "W2", "A1", "J1"),
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   {sql_portable_hash31("'shard:' || CAST(doc_id AS VARCHAR)")} AS h,
                   CAST(len({sql_tokens("text")}) AS BIGINT) AS n_tokens
            FROM documents
        ), placed AS (
            SELECT doc_id, h, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS start_offset
            FROM toks
        )
        SELECT CAST(start_offset // {SHARD_TOKEN_BUDGET} AS BIGINT) AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(MIN(start_offset) AS BIGINT) AS first_offset,
               CAST(MAX(start_offset + n_tokens) AS BIGINT) AS end_offset,
               CAST(SUM({sql_portable_hash31("CAST(doc_id AS VARCHAR)")})
                    % {HASH_P} AS BIGINT) AS id_checksum
        FROM placed
        GROUP BY shard_id
        ORDER BY shard_id
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: the global-shuffle-and-shard step that
    turns a curated corpus into fixed-token-budget output shards. Every
    document gets a deterministic shuffle position (portable hash of
    its id — the reproducible epoch-shuffle idiom), token offsets
    accumulate in that global order, and a document belongs to the
    shard its FIRST token lands in (the context_window_packing
    boundary convention). The manifest row per shard — doc count,
    token mass, offset range, order-insensitive id checksum (sum of
    per-doc hashes mod P) — is what a training loader verifies before
    consuming a shard.

    Overflow bound (documented like llmops/lm.py and llmops/dsir.py):
    the checksum sums 31-bit per-doc hashes in int64 before the mod,
    so the sum is exact while a single shard holds < 2^32 documents
    (DuckDB sums in HUGEINT, so a wrap would diverge from the oracle
    only past that bound). A shard is token-budgeted, so 2^32 docs in
    one shard requires the budget to admit 2^32 zero-token documents —
    unreachable at any corpus where documents average >= 1 token per
    2^32/budget docs; if a corpus of empty documents is a real input,
    pre-mod stays insufficient and the remedy is a wider budget or
    filtering zero-token docs before sharding.

    Scale: the oracle's single global window is exactly what this plan
    AVOIDS. The global token cumsum runs two-phase like
    global_rank_range_partitioned: the hash is range-bucketed
    (contiguous width-{_SHARD_BUCKET_WIDTH} slices, so bucket order ==
    global order), phase 1 aggregates per-bucket token mass (tiny),
    phase 2 prefix-sums those {SHARD_RANGE_BUCKETS} metadata rows into
    bucket offsets, phase 3 broadcast-joins the offsets back so each
    bucket cumsums independently under hash partitioning. The fact
    table shuffles once (on the bucket id); no corpus-sized stage is
    single-partition. The final manifest groupBy(shard_id) is
    map-side-combinable and output-bounded (corpus tokens / budget
    rows). The portable hash makes the shuffle order — and therefore
    every shard's contents — replayable across engines and epochs."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    h = portable_hash31(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    rows = docs.select(
        "doc_id",
        h.alias("h"),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    ).withColumn("bucket", F.expr(f"h DIV {_SHARD_BUCKET_WIDTH}").cast("long"))
    counts = rows.groupBy("bucket").agg(
        F.sum("n_tokens").cast("long").alias("bucket_tokens")
    )
    w_off = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_off), F.lit(0))
        .cast("long")
        .alias("bucket_offset"),
    )
    w_in = (
        W.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    placed = rows.join(F.broadcast(offsets), "bucket").withColumn(
        "start_offset",
        (
            F.col("bucket_offset")
            + F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
        ).cast("long"),
    )
    return (
        placed.withColumn(
            "shard_id",
            F.expr(f"start_offset DIV {SHARD_TOKEN_BUDGET}").cast("long"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("start_offset").cast("long").alias("first_offset"),
            F.max(F.col("start_offset") + F.col("n_tokens"))
            .cast("long")
            .alias("end_offset"),
            (F.sum(portable_hash31(F.col("doc_id").cast("string"))) % HASH_P)
            .cast("long")
            .alias("id_checksum"),
        )
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------
# Learned quality classifier (round 9): the FineWeb-Edu / fastText
# tier completing the quality triad — heuristic gate -> LM perplexity
# -> trained classifier. See llmops/classifier.py for the model, the
# exactness contract (integer perceptron; the DuckDB oracle replays
# the full training run as a recursive-CTE fold) and the overflow
# bound.

from martian_moments_spark.llmops.classifier import (  # noqa: E402
    classifier_scores,
    sql_classifier_ctes,
)
from martian_moments_spark.llmops.lm import (  # noqa: E402
    sql_bigram_lm_ctes,
    sql_lm_gate,
)


@register(
    "quality_classifier_scores",
    ops=("A1", "J1", "J3", "N2"),
    oracle=f"""
        WITH RECURSIVE {sql_bigram_lm_ctes()}, {sql_classifier_ctes()}
        SELECT doc_id, seed_label, n_features, score, keep FROM cls
    """,
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter — a linear classifier over hashed
    bag-of-bigram counts (the fastText / FineWeb-Edu architecture),
    trained in-engine by integer perceptron steps on a bounded
    deterministic sample whose seed labels are the AGREEMENT of the
    two earlier quality tiers (heuristic gate + LM perplexity keep).
    Emits per document the seed label, feature count, integer score
    w.x + b and the keep verdict (score > 0) — no float anywhere, so
    the DuckDB oracle replays training AND scoring hash-exactly
    (llmops/classifier.py).

    Scale: training collects <= CLS_SAMPLE sparse feature rows (the
    kmeans_units bounded-collect pattern); scoring is one corpus
    bigram explode, one broadcast join against the CLS_BUCKETS-row
    weight table, one map-side-combined doc aggregate — the DSIR
    shuffle shape, linear in corpus bytes.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return classifier_scores(docs)


@register(
    "classifier_gated_curation",
    ops=("A1", "A3", "J2", "O1"),
    oracle=f"""
        WITH RECURSIVE {sql_bigram_lm_ctes()}, {sql_classifier_ctes()},
        meta AS (
            SELECT d.doc_id, d.source,
                   CAST(len(t.t) AS BIGINT) AS n_tokens
            FROM documents d JOIN toks t USING (doc_id)
        )
        SELECT m.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) FILTER (WHERE c.seed_label = 1) AS BIGINT)
                   AS n_seed_pos,
               CAST(COUNT(*) FILTER (WHERE c.seed_label = -1) AS BIGINT)
                   AS n_seed_neg,
               CAST(COUNT(*) FILTER (WHERE c.keep) AS BIGINT) AS n_kept,
               CAST(SUM(m.n_tokens) AS BIGINT) AS total_tokens,
               CAST(COALESCE(SUM(m.n_tokens) FILTER (WHERE c.keep), 0)
                    AS BIGINT) AS kept_tokens,
               CASE WHEN SUM(m.n_tokens) > 0
                    THEN CAST(COALESCE(SUM(m.n_tokens)
                              FILTER (WHERE c.keep), 0) AS DOUBLE)
                         / CAST(SUM(m.n_tokens) AS DOUBLE)
                    ELSE 0.0 END AS token_keep_share
        FROM meta m JOIN cls c USING (doc_id)
        GROUP BY m.source
        ORDER BY m.source
    """,
)
def classifier_gated_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained classifier composed into a per-source curation
    report: per source, the seed-label balance the trainer saw, how
    many documents (and how much token mass) the learned filter keeps,
    and the keep-share — the report a curation run reads to see which
    sources the LEARNED tier drops relative to its supervision
    (the classifier analogue of perplexity_gated_curation).

    Scale: one extra per-row token count + per-source aggregate on
    top of the quality_classifier_scores plan — the heavy stages are
    shared, the report shuffle is source-cardinality metadata.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    meta = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    cls = classifier_scores(docs.select("doc_id", "text"))
    agg = (
        meta.join(cls, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("seed_label") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_seed_pos"),
            F.sum(F.when(F.col("seed_label") == -1, 1).otherwise(0))
            .cast("long")
            .alias("n_seed_neg"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
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
        "n_seed_pos",
        "n_seed_neg",
        "n_kept",
        "total_tokens",
        "kept_tokens",
        share.alias("token_keep_share"),
    ).orderBy("source")


@register(
    "quality_tier_agreement",
    ops=("A1", "A3", "J2", "O1"),
    oracle=f"""
        WITH RECURSIVE {sql_bigram_lm_ctes()}, {sql_classifier_ctes()}
        SELECT ({sql_lm_gate("t.t")}) AS gate_pass,
               l.keep AS lm_keep,
               c.keep AS cls_keep,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM toks t
        JOIN lm l USING (doc_id)
        JOIN cls c USING (doc_id)
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
)
def quality_tier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-tier confusion report: document counts by (heuristic
    gate, LM keep, classifier keep) verdict triple — the at-a-glance
    audit of where the learned tier agrees with, generalizes, or
    overrules its two supervising tiers (at most 8 rows; a healthy
    classifier concentrates mass on the two all-agree cells since its
    labels ARE the agreement set).

    Scale: the three verdict columns ride the shared scoring plans;
    the report aggregate is 8-row metadata. The gate and LM verdicts
    come from the classifier's own ``labeled`` relation
    (``with_tiers=True``) — classifier_scores computes both to build
    its seed labels, and re-deriving them here re-ran the entire
    bigram-LM pipeline a second time (r11: two joins and a full LM
    run removed, measured interleaved A/B).
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cls = classifier_scores(docs, with_tiers=True).select(
        "gate_pass", "lm_keep", F.col("keep").alias("cls_keep")
    )
    return (
        cls.groupBy("gate_pass", "lm_keep", "cls_keep")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("gate_pass", "lm_keep", "cls_keep")
    )
