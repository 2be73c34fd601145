"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All signature math is integer arithmetic over the md5-derived portable
hash (textops.portable_hash31), so signatures are bit-identical across
engines, partition counts, and retries.

Scale design (100 TB):
- exact dedup: one shuffle on the fingerprint; with the corpus
  bucketed by fingerprint it is a co-located group-by.
- MinHash/LSH: signatures are per-row array expressions (narrow);
  the only shuffle is the band-bucket self-join, which is the point
  of LSH — candidate pairs ~ O(collisions), not O(n^2).
- SimHash: per-row again; near-dup candidates join on band prefixes.
- pairwise Jaccard is O(block^2) — only ever run it inside a blocking
  key (here: source), never across the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from martian_moments_spark.llmops.textops import (
    HASH_P,
    portable_hash31,
    word_shingles,
)
from martian_moments_spark.operators.parallelize import narrow, spread

# Deterministic MinHash family h_i(x) = (a_i * h(x) + b_i) mod P.
# a_i odd and < 2^17 keeps a_i * h(x) < 2^48 — no BIGINT overflow.
MINHASH_SEEDS: tuple[tuple[int, int], ...] = tuple(
    (2 * i + 3, 7919 * (i + 1)) for i in range(8)
)
SIMHASH_BITS = 32


def minhash_signature(col: str = "text", n: int = 2) -> list[Column]:
    """One min-hash per seed over the document's word shingles.
    NULL signature for documents with fewer than ``n`` tokens.

    The md5 base hash is computed ONCE per shingle; the 8 permutations
    are affine transforms over the cached integers (8x fewer md5
    evaluations — md5 dominates the signature cost)."""
    hashed = F.transform(word_shingles(col, n), portable_hash31)
    return minhash_from_hashes(hashed)


def minhash_from_hashes(hashed: Column) -> list[Column]:
    """Min-hash columns from a precomputed shingle-hash array. Pass a
    materialized column (withColumn) so the base hashing runs once —
    expression-tree copies of a non-cheap transform are not collapsed
    by Catalyst, but a referenced column is computed one time."""
    return [
        F.array_min(
            F.transform(hashed, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(HASH_P))
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    ]




def lsh_bands(signature_cols: list[str], rows_per_band: int = 2) -> list[Column]:
    """Group signature columns into bands; a band key is the banded
    min-hashes combined into one value. Docs sharing ANY band key are
    candidate near-duplicates."""
    bands = []
    for bi in range(0, len(signature_cols), rows_per_band):
        chunk = signature_cols[bi : bi + rows_per_band]
        key = F.lit(0).cast("long")
        for c in chunk:
            key = (key * F.lit(1_000_003) + F.coalesce(F.col(c), F.lit(0)) % F.lit(1_000_003)) % F.lit(
                HASH_P
            )
        bands.append(key.alias(f"band_{bi // rows_per_band}"))
    return bands




def lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    memo_key: str | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs for any document
    frame: signatures -> 4 bands of 2 rows -> distinct id pairs
    sharing any band bucket (``id_a < id_b``). The only shuffle is the
    band-bucket equi-join: O(collisions) pairs, never O(n^2).

    Skew caveat (tests/test_properties.py pins it): EXACT duplicates
    all share every band, so a template repeated h times contributes
    C(h,2) candidate pairs — LSH bounds near-dup work, not exact-dup
    work. The deployment composition is exact_dedup FIRST (identical
    docs collapse to one representative), then LSH over
    representatives; the hot template then contributes zero pairs.

    Measured rejection, do not retry: generating pairs by grouping
    each band bucket (collect_set + per-row i<j expansion — the form
    that wins for deletion_neighborhood_candidates) ran 8.6 s vs
    2.5 s for this self-join at sf1 with identical output. The band
    relation is tiny (n_docs x 4 rows) so double evaluation is cheap,
    while near-dup clusters make buckets big — and a bucket row that
    expands to C(h,2) pairs runs in ONE task, where the join spreads
    the same collisions across tasks. See the inverse measurement in
    deletion_neighborhood_candidates."""
    # The md5-per-shingle signature pipeline is the CPU of this
    # builder and the a/b band branches each re-derive it; at gate
    # scale it ran as two ~0.7 s single-task stages (r11 profile).
    # Spread the narrow (id, text) projection first — identity at
    # real scale, same contract as every spread site.
    hashed = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        "doc_id",
        memo_key=memo_key,
    ).withColumn("__sh", F.transform(word_shingles("text"), portable_hash31))
    sig = hashed.select("doc_id", *minhash_from_hashes(F.col("__sh")))
    banded = sig.select(
        "doc_id", *lsh_bands([f"mh_{i}" for i in range(len(MINHASH_SEEDS))])
    )
    n_bands = len(MINHASH_SEEDS) // 2
    melted = banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"), F.col(f"band_{i}").alias("band_val")
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_val")
    a = melted.select(F.col("doc_id").alias("id_a"), "band_idx", "band_val")
    b = melted.select(F.col("doc_id").alias("id_b"), "band_idx", "band_val")
    pairs = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # At gate scale AQE folds the band join's kilobyte shuffle back to
    # ONE task, so everything downstream of the candidate set — the
    # exact verify's array_intersect per pair, containment, signature
    # agreement — serializes on one core (r11 profile: a 0.6-1.3 s
    # single-task chain inside every _lsh_verified_pairs consumer).
    # When the corpus scan itself is narrow, pin the pair relation
    # onto the session's parallelism BEFORE the dedup aggregate: the
    # distinct() reuses the repartition's hashpartitioning (same keys)
    # so this replaces — not adds — an exchange (guide §2.4), and AQE
    # cannot coalesce a REPARTITION_BY_NUM. Identity at real scale,
    # where the band join's own post-shuffle partitions carry the
    # parallelism. (A post-distinct placement was measured and
    # rejected: it restores the distinct's map-side combine of
    # multi-band duplicate pairs but ADDS an exchange, and benched
    # 0.70-0.85x at gate scale across the family.)
    if narrow(df, memo_key=memo_key):
        pairs = pairs.repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            F.col("id_a"),
            F.col("id_b"),
        )
    return pairs.distinct()


def simhash(col: str = "text", bits: int = SIMHASH_BITS) -> Column:
    """Order-insensitive near-dup fingerprint: bit b of the simhash is
    the majority vote of bit b across the distinct tokens' hashes.
    Token hashes are computed once into an array, then each bit is a
    count over that integer array (no re-hashing per bit)."""
    hashed = F.array_distinct(
        F.transform(
            F.filter(F.split(F.col(col), r"\s+"), lambda t: t != ""),
            portable_hash31,
        )
    )
    total = F.size(hashed)
    out = F.lit(0).cast("long")
    for b in range(bits):
        ones = F.size(F.filter(hashed, lambda h: h.bitwiseAND(F.lit(1 << b)) != 0))
        out = out + F.when(ones * 2 > total, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out




def hamming_distance(a: Column, b: Column, bits: int = SIMHASH_BITS) -> Column:
    """Popcount of XOR — near-dup distance between two simhashes."""
    x = a.bitwiseXOR(b)
    return sum(
        (F.shiftright(x, i).bitwiseAND(F.lit(1))).cast("int") for i in range(bits)
    ).alias("hamming")




def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5 fingerprint of the text, keep the smallest id
    per fingerprint (deterministic winner). One shuffle, on the
    fingerprint."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("kept_" + id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def jaccard_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    allow_block_self_join: bool = False,
) -> DataFrame:
    """Token-set Jaccard for EVERY document pair inside a blocking key
    — O(block^2) pairs by construction, which is quadratic in the
    corpus whenever the block key has fixed cardinality (the decade
    sweep measured the source-blocked form at ~14x per 10x rows).
    The production verify path is LSH-candidate-fed
    (queries_llm._lsh_candidate_jaccard): O(band collisions), never
    all-pairs. This full block scan therefore requires
    ``allow_block_self_join=True`` — opt-in-loud, exactly like
    similarity.topk_cosine's ``allow_full_scan`` guard — and is only
    appropriate when the block key's group size is known bounded
    (e.g. a per-session or per-entity key), not a fixed category.

    Per-pair cost is one ``array_intersect``: the union size is the
    inclusion–exclusion identity |A∪B| = |A|+|B|−|A∩B| over the
    per-doc distinct-token counts (computed once per doc, not per
    pair), so no union array is ever materialized. Same exact
    values — both sets are distinct arrays by construction."""
    if not allow_block_self_join:
        raise ValueError(
            "jaccard_pairs verifies every pair inside a block — quadratic "
            "when the block key has fixed cardinality. Feed LSH candidates "
            "instead (queries_llm ngram_jaccard_pairs / _lsh_candidate_jaccard), "
            "or pass allow_block_self_join=True if the block size is provably "
            "bounded."
        )
    toks = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col),
        F.array_distinct(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("toks"),
    ).withColumn("n_toks", F.size("toks"))
    a = toks.select(
        F.col("block"),
        F.col(id_col).alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("n_toks").alias("n_a"),
    )
    b = toks.select(
        F.col("block"),
        F.col(id_col).alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("n_toks").alias("n_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = (F.col("n_a") + F.col("n_b")).cast("double") - inter
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "block",
            "id_a",
            "id_b",
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
        )
    )


def _deletion_sig_rows(base: DataFrame) -> DataFrame:
    """(block, id, sig) signature rows: explode the materialized
    <=2-deletion variant strings, xxhash64 each."""
    s = F.col("__s")
    l = F.length(s)
    d1 = F.transform(
        F.sequence(F.lit(1), l),
        lambda i: F.concat(s.substr(F.lit(1), i - 1), s.substr(i + 1, l)),
    )
    # delete positions i<j: prefix[1,i-1] + mid[i+1,j-1] + suffix[j+1,]
    d2 = F.flatten(
        F.transform(
            F.sequence(F.lit(1), l - 1),
            lambda i: F.transform(
                F.sequence(i + 1, l),
                lambda j: F.concat(
                    s.substr(F.lit(1), i - 1), s.substr(i + 1, j - i - 1), s.substr(j + 1, l)
                ),
            ),
        )
    )
    # No array_distinct over the variant array: duplicate variants of
    # ONE string (equal deletions over repeated characters) land in the
    # same (block, sig) bucket where collect_set(id) collapses them, so
    # the candidate-pair set is provably unchanged — while the distinct
    # pass itself cost ~10% of the signature stage (r11 measured
    # 3.7 s -> 3.5 s serial, 1.0 s -> 0.7 s spread; pair sets verified
    # identical at sf0.1, 694,624 rows both ways).
    sigs = F.concat(
        F.array(s),
        F.when(l >= 1, d1).otherwise(F.array().cast("array<string>")),
        F.when(l >= 2, d2).otherwise(F.array().cast("array<string>")),
    )
    return base.select("block", "id", F.explode(sigs).alias("sig")).select(
        "block", "id", F.xxhash64("sig").alias("sig")
    )


def deletion_neighborhood_candidates(
    df: DataFrame,
    block_col: str,
    id_col: str,
    text_col: str,
    k: int = 2,
) -> DataFrame:
    """Edit-distance candidate pairs via deletion-neighborhood
    signatures (the FastSS / SymSpell scheme): every string emits all
    variants reachable by deleting up to ``k`` characters; two strings
    at edit distance <= k ALWAYS share at least one variant (take an
    optimal <=k-op script and drop the substituted/deleted chars from
    one side and the substituted/inserted chars from the other — each
    side loses <= k chars and the remainders are equal), so recall is
    exactly 1 and the downstream banded-DP verify sees the same
    survivor set as an all-pairs scan. tests/test_properties.py pins
    that equivalence on generated corpora.

    Scale: per-string signature count is C(l,0..k) ~ l^k/k! — bounded
    for the short keys entity resolution blocks on (names, titles,
    codes; l=20, k=2 -> ~190 rows). The only shuffle is the signature
    equi-join: candidate volume is O(sum over signatures of count^2),
    i.e. O(collisions) — strings collide only when genuinely
    deletion-compatible, unlike substring/q-gram canopies which
    degenerate when the corpus shares long constant affixes. For long
    strings (documents) use MinHash/LSH instead; this is the
    short-string companion. Returns distinct ``(block, id_a, id_b)``
    with id_a < id_b; verify with ``F.levenshtein(a, b, k)``."""
    if k != 2:
        raise ValueError("deletion_neighborhood_candidates implements k=2")
    # Null semantics: the original self-join form dropped null-block /
    # null-text rows via the null-unsafe equi-join; groupBy would
    # instead collect nulls into one bucket and emit pairs for them.
    # Filter explicitly so both forms agree for nullable inputs.
    # The signature explode amplifies each row ~l^2/2 x, so its stage
    # cost is decoupled from its INPUT size — a small scan (one split)
    # would run the whole expansion on one core (measured 3.7 s serial
    # vs 1.0 s spread at sf0.1, r11 profile). spread is the identity
    # once the scan has >= defaultParallelism splits.
    base = spread(
        df.filter(F.col(block_col).isNotNull() & F.col(text_col).isNotNull()).select(
            F.col(block_col).alias("block"),
            F.col(id_col).alias("id"),
            F.col(text_col).alias("__s"),
        ),
        "id",
    )
    # Signature rows are (block, id, 64-bit hash of variant): bucketing
    # on a hash, not the variant string, keeps the shuffle key at 8
    # bytes, and a hash collision can only ADD a candidate (the
    # banded-DP verify rejects it), so recall stays exactly 1.
    #
    # Measured rejections, do not retry: an Arrow rolling-hash kernel
    # that hashes each variant in O(1) from prefix hashes instead of
    # building its string was a wall-clock wash (0.97-0.99x at sf0.1,
    # 0.99x at sf1; it is in git history at commit ba0d9f5): the
    # collect_set aggregate and sig-row shuffle it cannot touch
    # dominate, and the Python boundary gives the saved CPU back as
    # worker blocking. A PassJoin-style partition-pattern canopy fails
    # on data shape: entity keys share long constant prefixes (c_name:
    # 9 identical leading chars), so the first fixed segment buckets
    # the whole corpus into one all-pairs canopy.
    sig_rows = _deletion_sig_rows(base)
    # Pairs come from grouping each signature bucket, NOT from a
    # self-join: the join form evaluates the signature explosion once
    # per side and shuffles both copies (the union-of-two-selects
    # anti-pattern in self-join clothing). One groupBy shuffles the
    # signature rows once and emits the i<j pairs per bucket with an
    # array transform. Measured same-session A/B at sf1 (150k names,
    # 70.1M candidate pairs): 22.4 s vs 32.4 s, identical output by
    # exceptAll both ways.
    #
    # Which side of this trade a canopy lands on depends on two sizes
    # (both measured, see lsh_candidates for the opposite case):
    # bucket-groupBy wins when the signature relation is LARGE or
    # expensive to build (here: ~190 substring variants per name,
    # 28.5M rows — the join pays that twice) and buckets are SMALL
    # (deletion variants collide only for genuinely close strings, so
    # a bucket's C(h,2) expansion stays inside one task comfortably);
    # the self-join wins when signatures are cheap and buckets are
    # big/skewed, because a row that expands to C(h,2) pairs runs in
    # ONE task while a join spreads the same collisions across tasks.
    grp = (
        sig_rows.groupBy("block", "sig")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    n = F.size("ids")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, n),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), i).alias("id_a"),
                    F.element_at(F.col("ids"), j).alias("id_b"),
                ),
            ),
        )
    )
    return (
        grp.select("block", F.explode(pairs).alias("p"))
        .select("block", "p.id_a", "p.id_b")
        .distinct()
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
    frontier_sizes: list | None = None,
) -> DataFrame:
    """Transitive closure of a near-duplicate relation: label every
    vertex with the MINIMUM id reachable through the edge set (the
    canonical component representative). Near-dup similarity is not
    transitive, so pairwise keep-lowest under-merges; clustering the
    full graph is what corpus-level dedup actually needs.

    Iterative distributed min-label propagation with a FRONTIER: each
    round, only vertices whose label improved last round re-send it
    (a vertex whose label is unchanged has nothing new to tell its
    neighbors — they already received that label the round it was
    set, so dropping the resend cannot change the fixpoint). The
    fixpoint (empty frontier) is the exact component minimum, so the
    result is iteration-count-independent and deterministic — the
    Pregel/GraphX halting rule.

    Scale: each round is one shuffle (frontier-edge join +
    min-aggregate), so total message volume is O(E + sum of frontier
    degrees) instead of O(E * diameter) — after a component
    converges, it costs nothing while stragglers finish. Rounds
    needed = graph diameter — small for dedup clusters (near-dup
    components are dense). localCheckpoint truncates the growing
    lineage so round N doesn't replan rounds 1..N-1; on a cluster use
    reliable checkpointing to survive executor loss. Convergence
    (empty frontier) falls out of the update itself — the driver-side
    count inspects the frontier it just built after every round.
    Pass ``frontier_sizes=[]`` to record the exact per-hop frontier
    size (single-hop rounds in that mode) — the property suite pins
    frontier-collapse dynamics on it.
    """
    # Symmetrize with ONE pass over the edge set: a union of two
    # selects would evaluate the (expensive — typically the whole LSH
    # verify pipeline) edge lineage once per branch before the
    # checkpoint barrier; exploding a 2-element struct array reads it
    # exactly once for the same rows.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # Route the edge set through an AQE-coalescible exchange before
    # checkpointing: the verify pipeline upstream may arrive spread
    # over the session's full parallelism (lsh_candidates' gate-scale
    # repair), and a checkpoint frozen at that layout makes EVERY
    # round — each its own action, so nothing is reused across rounds
    # — pay that partition count in map tasks of pure overhead
    # (measured 0.72-0.88x when sym was checkpointed at 32 kilobyte
    # partitions). A plain repartition("src") lets AQE size the
    # checkpointed layout by bytes: few tasks at gate scale (the
    # rounds are driver-latency-bound there), input-proportional at
    # 100 TB. NOTE the checkpointed RDD reports UnknownPartitioning
    # (verified against this Spark build), so the src keying buys
    # placement only within the checkpoint job itself; the per-round
    # join still exchanges sym when the frontier is too big to
    # broadcast — a localCheckpoint limitation, not a choice.
    sym = sym.repartition("src").localCheckpoint(eager=True)
    labels = vertices.select(
        F.col(id_col).alias("v"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    frontier = labels  # round 1: every vertex announces its own label

    def hop(lab: DataFrame, front: DataFrame) -> DataFrame:
        """One min-label propagation step: (v, label=current,
        new_label=min(current, neighbor minimum from ``front``))."""
        msgs = (
            sym.join(front, sym.src == front.v)
            .select(F.col("dst").alias("v"), "label")
            .groupBy("v")
            .agg(F.min("label").alias("nbr_min"))
        )
        return lab.join(msgs, "v", "left").select(
            "v",
            "label",
            F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias(
                "new_label"
            ),
        )

    # TWO-HOP fused rounds (r11 VERDICT #7): each eager localCheckpoint
    # is its own driver action, and at gate scale the round loop is
    # driver-latency-bound (~0.4-0.6 s/round against ~tens of ms of
    # task time), so two propagation hops share ONE checkpoint barrier.
    # Fixpoint-exact: a hop-1 improver's new label is broadcast by
    # hop 2, so only hop-2 improvers still hold unsent labels — they
    # are the next frontier, and an empty one means hop 1's labels
    # provoked no improvement anywhere, i.e. the exact fixpoint the
    # single-hop rule reaches (tests/test_r12_optimizations.py pins
    # label equality against the instrumented loop). The hop-1 subtree
    # appears under both hop-2 branches; its label/message exchanges
    # are identical subtrees, which IS the ReuseExchange case (one
    # evaluation, two readers — see parallelize.py's tombstone for the
    # negative case), verified in the captured plan. The instrumented
    # mode keeps single hops: its contract is the exact per-hop
    # frontier trajectory.
    fuse = frontier_sizes is None
    rnd = 0
    while rnd < max_iter:
        if fuse and rnd + 1 < max_iter:
            # hop 1 is consumed by BOTH hop-2 branches (its improvers
            # feed the messages, its labels the merge); a LAZY local
            # checkpoint makes the fused action materialize it once —
            # without it the hop-1 join+aggregate subtree is inlined
            # into both branches (12 aggregates in the static plan,
            # measured) and the per-round message work doubles at any
            # scale. Lazy, not eager: the fused round stays ONE driver
            # action (hop 2's eager checkpoint computes hop 1 first;
            # Spark backfills any partitions the first job skipped).
            lab1 = hop(labels, frontier).localCheckpoint(eager=False)
            f1 = lab1.filter(F.col("new_label") < F.col("label")).select(
                "v", F.col("new_label").alias("label")
            )
            upd = hop(
                lab1.select("v", F.col("new_label").alias("label")), f1
            ).localCheckpoint(eager=True)
            rnd += 2
        else:
            upd = hop(labels, frontier).localCheckpoint(
                eager=True
            )  # one barrier; both views below are narrow filters of it
            rnd += 1
        frontier = upd.filter(F.col("new_label") < F.col("label")).select(
            "v", F.col("new_label").alias("label")
        )
        labels = upd.select("v", F.col("new_label").alias("label"))
        if frontier_sizes is not None:
            # instrumentation mode: exact frontier size every round —
            # the O(E*diameter) regression guard in
            # tests/test_properties.py asserts collapse dynamics on it
            size = frontier.count()
            frontier_sizes.append(size)
            if size == 0:
                break
        elif frontier.limit(1).count() == 0:
            break
    return labels.select(F.col("v").alias(id_col), F.col("label").alias("component_id"))


def merge_hit_islands(hits: DataFrame, k: int) -> DataFrame:
    """Merge per-doc matched gram positions into maximal disjoint
    islands: ``hits`` is (doc_id, i) with distinct 1-based positions
    whose [i, i+k-1] intervals are to be unioned. Consecutive
    positions more than ``k`` apart start a new island (their
    intervals are disjoint with >= 1 char between). One lag window +
    one running-sum window share a single (doc_id, i) exchange+sort.
    Returns (doc_id, s, len, na, e) — island start, covered length,
    anchor count, inclusive end."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("doc_id").orderBy("i")
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    lag = F.lag("i").over(w)
    flagged = hits.withColumn(
        "ns", F.when(lag.isNull() | (F.col("i") - lag > k), 1).otherwise(0)
    )
    isl = flagged.withColumn("island", F.sum("ns").over(run))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("i").alias("s"),
            (F.max("i") - F.min("i") + k).cast("long").alias("len"),
            F.count(F.lit(1)).alias("na"),
        )
        .select(
            "doc_id", "s", "len", "na", (F.col("s") + F.col("len") - 1).alias("e")
        )
    )


def char_span_islands(
    docs: DataFrame,
    k: int = None,
    sel: int = None,
    spread: bool | None = None,
) -> DataFrame:
    """Cross-corpus repeated-substring islands per document:
    char_anchor_grams -> gram-equality dup test (distinct-doc count
    >= 2, exact on the gram string) -> merge_hit_islands. Returns
    (doc_id, s, len, na, e); the shared candidate stage behind
    repeated_char_spans / strip_repeated_spans. ``spread`` is passed
    through to char_anchor_grams (see parallelize.narrow)."""
    from martian_moments_spark.llmops.textops import (
        CHAR_ANCHOR_K,
        CHAR_ANCHOR_SEL,
        char_anchor_grams,
    )

    from pyspark.sql.window import Window as W

    K = CHAR_ANCHOR_K if k is None else k
    SEL = CHAR_ANCHOR_SEL if sel is None else sel
    anch = char_anchor_grams(docs, k=K, sel=SEL, spread=spread)
    # Dup test as a gram-partitioned window, not groupBy(g)+join back:
    # the join form consumed ``anch`` twice, and Catalyst re-derived
    # the anchor Generate (an md5 per character position — the
    # dominant compute of this whole family) once per consumer, plus
    # broadcast EVERY duplicated gram to every executor (a hard
    # 8 GB-cap failure mode at corpus scale). min/max over the
    # gram partition reads the Generate output exactly once and
    # shuffles it once; the agg form's partial aggregate saved almost
    # nothing anyway (24-char grams are near-unique per map
    # partition). min != max, not count_distinct >= 2 — see
    # cross_doc_ngram_spans: the distinct form's map-side (g, doc_id)
    # pair state measured 45x on 10x docs in the decade3 smoke.
    wg = W.partitionBy("g")
    hits = (
        anch.select(
            "doc_id",
            "i",
            F.min("doc_id").over(wg).alias("d0"),
            F.max("doc_id").over(wg).alias("d1"),
        )
        .filter(F.col("d0") != F.col("d1"))
        .select("doc_id", "i")
    )
    return merge_hit_islands(hits, K)


def char_span_stats(
    docs: DataFrame,
    k: int = None,
    sel: int = None,
    tau: float = 0.3,
    spread: bool | None = None,
) -> DataFrame:
    """Per-document cross-corpus repeated-substring span statistics —
    the engine behind the registered ``repeated_char_spans`` query
    (see its docstring for semantics, recall law, and 100 TB posture).
    Input: (doc_id, text). Output one row per doc: hit-anchor count,
    merged span count, covered-char union, longest span (length +
    1-based start, longest-then-earliest), coverage ratio, keep
    verdict at ``tau``. Both windows share one (doc_id, i)
    exchange+sort; the int64 (len, start) packing avoids a second
    window for the argmax."""
    from martian_moments_spark.llmops.textops import SPAN_PACK

    P = SPAN_PACK
    spans = char_span_islands(docs, k=k, sel=sel, spread=spread)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("na").alias("n_hit_anchors"),
        F.sum("len").alias("covered_chars"),
        F.max(F.col("len") * P - F.col("s")).alias("pk"),
    )
    base = docs.select("doc_id", F.length("text").cast("long").alias("n_chars"))
    covered = F.coalesce(F.col("covered_chars"), F.lit(0).cast("long"))
    ratio = F.when(
        F.col("n_chars") > 0, covered.cast("double") / F.col("n_chars").cast("double")
    ).otherwise(F.lit(0.0))
    longest_len = F.expr(f"(pk + {P}) DIV {P}").cast("long")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("n_hit_anchors"), F.lit(0).cast("long")).alias("n_hit_anchors"),
        F.coalesce(F.col("n_spans"), F.lit(0).cast("long")).alias("n_spans"),
        covered.alias("covered_chars"),
        F.coalesce(longest_len, F.lit(0).cast("long")).alias("longest_len"),
        F.coalesce(longest_len * P - F.col("pk"), F.lit(0).cast("long")).alias("longest_start"),
        ratio.alias("dup_coverage_ratio"),
        F.when(F.col("n_chars") > 0, ratio <= tau)
        .otherwise(F.lit(True))
        .alias("keep"),
    )


def strip_islands_text(docs: DataFrame, islands: DataFrame) -> DataFrame:
    """Rewrite each doc with its islands cut out — the engine behind
    the registered ``strip_repeated_spans`` query (see its docstring).
    ``islands`` is (doc_id, s, len, e) with per-doc DISJOINT intervals
    (merge_hit_islands guarantees >= 1 char between islands). Kept
    text = ordered concat of inter-island gap segments plus the tail;
    segment rows are O(islands) and each doc's text travels through
    one join, not per anchor. Output: (doc_id, n_chars,
    n_chars_removed, text_cleaned)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("doc_id").orderBy("s")
    pre = islands.select(
        "doc_id",
        F.coalesce(F.lag("e").over(w) + 1, F.lit(1).cast("long")).alias("ss"),
        (F.col("s") - 1).cast("long").alias("se"),
    )
    tail = (
        islands.groupBy("doc_id")
        .agg((F.max("e") + 1).alias("ss"))
        .join(docs, "doc_id")
        .select("doc_id", "ss", F.length("text").cast("long").alias("se"))
    )
    seg = pre.unionByName(tail).filter(F.col("ss") <= F.col("se"))
    segtxt = seg.join(docs, "doc_id").select(
        "doc_id",
        "ss",
        F.col("text")
        .substr(F.col("ss").cast("int"), (F.col("se") - F.col("ss") + 1).cast("int"))
        .alias("t"),
    )
    agg = segtxt.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ss", "t"))), lambda x: x["t"]
            ),
            "",
        ).alias("cleaned")
    )
    removed = islands.groupBy("doc_id").agg(F.sum("len").alias("n_chars_removed"))
    return (
        docs.join(removed, "doc_id", "left")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            F.coalesce(F.col("n_chars_removed"), F.lit(0).cast("long")).alias(
                "n_chars_removed"
            ),
            F.when(
                F.col("n_chars_removed").isNotNull(),
                F.coalesce(F.col("cleaned"), F.lit("")),
            )
            .otherwise(F.col("text"))
            .alias("text_cleaned"),
        )
    )


# ------------------------------------------------ suffix-array tier

#: Target shard size in DOCUMENTS: the shard modulus scales with the
#: corpus (GREATEST(floor, n_docs // target)) so one shard stays
#: ~SA_SHARD_TARGET docs at ANY corpus size — that fixed bound is what
#: makes the in-shard single-task rank stages honestly bounded at
#: 100 TB (run n_docs/target shards to cover the corpus, Lee et al.'s
#: per-shard-SA + union-verdicts recipe). The floor keeps the gate
#: scales populated: at sf0.001 (520 docs) mod = 4 -> ~130-doc shard.
SA_SHARD_TARGET = 200
SA_SHARD_FLOOR = 4
SA_MIN_SHARED = 48  # chars: the exact-substring dedup drop threshold


def sa_shard_mod(n_docs: int) -> int:
    """Corpus-scaled shard modulus — the ADAPT_CELL_TARGET pattern."""
    return max(SA_SHARD_FLOOR, n_docs // SA_SHARD_TARGET)


def suffix_array_ranks(shard: DataFrame) -> DataFrame:
    """Distributed suffix array by PREFIX DOUBLING (Manber-Myers;
    the Flick & Aluru distributed formulation) over (doc_id, text):
    returns one row per suffix (doc_id, i, n_chars, rank) where
    ``rank`` orders all suffixes of all shard documents by binary
    string comparison — identical to ``ORDER BY substr(text, i)``,
    which is exactly how the DuckDB oracle replays it.

    Round k orders every suffix by its first 2^k characters: each
    suffix's key is (rank_k(i), rank_k(i + 2^k)) — the second
    component -1 when i + 2^k runs past the document end, matching
    the shorter-string-sorts-first rule of binary collation — and a
    dense re-rank over that pair becomes rank_{k+1}. log2(max doc
    length) rounds, each ONE self-join (a shifted column rename, so
    it co-partitions on doc_id) plus one global dense rank.
    Convergence is detected when all ranks are distinct (equal ranks
    after the final round = byte-identical suffixes; every consumer
    below is proven invariant to their relative order).

    Scale: this operator is SHARD-BOUNDED BY DESIGN (its only
    registered caller filters to a deterministic 1/SA_SHARD_MOD of
    documents — the Lee et al. recipe runs per-shard suffix arrays
    and unions verdicts). Within the shard the per-round dense rank
    is a single-partition window over n_suffix rows — the W1 ceiling,
    accepted here because the shard cap bounds it (the
    range-partitioned two-phase rank of global_rank_range_partitioned
    is the drop-in replacement the day a shard outgrows one task).
    localCheckpoint truncates the growing loop lineage, same as
    dedup_connected_components."""
    from pyspark.sql.window import Window as W

    # Empty docs contribute no suffixes. Without the filter,
    # sequence(1, 0) yields a DESCENDING [1, 0] (Spark semantics) and
    # injects two phantom suffixes over '', diverging from the
    # oracle's empty range(1, length+1).
    # Initial rank = dense rank over the first K0 characters (binary
    # byte-wise string comparison; a strict prefix sorts first exactly
    # like the shorter suffix does), i.e. rank_{K0} directly — the
    # prefix-doubling invariant holds from any starting width, and
    # starting at 8 replaces the k=1,2,4 rounds (3 self-joins, 3
    # dense-rank windows, 3 eager checkpoints, 3 convergence actions;
    # r11 measured the per-round driver latency dominating this
    # operator's tail — see OPTIMIZATION_r11.md).
    K0 = 8
    suf = shard.filter(F.length("text") > 0).select(
        "doc_id",
        "text",
        F.length("text").cast("long").alias("n_chars"),
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
    ).select(
        "doc_id",
        "i",
        "n_chars",
        F.expr(f"substr(text, i, {K0})").alias("__pfx"),
    )
    w0 = W.orderBy("__pfx")
    suf = suf.select(
        "doc_id", "i", "n_chars",
        F.dense_rank().over(w0).cast("long").alias("rank"),
    )
    r = suf.localCheckpoint(eager=True)
    n = r.count()
    if n == 0:
        return r
    max_len = r.agg(F.max("n_chars")).first()[0] or 0
    k = K0
    if k < max_len and r.agg(F.max("rank")).first()[0] == n:
        return r
    while k < max_len:
        shifted = r.select(
            "doc_id", (F.col("i") - F.lit(k)).alias("i"), F.col("rank").alias("rank2")
        )
        paired = (
            r.join(shifted, ["doc_id", "i"], "left")
            .na.fill({"rank2": -1})
        )
        w = W.orderBy("rank", "rank2")
        r = paired.select(
            "doc_id", "i", "n_chars", F.dense_rank().over(w).cast("long").alias("rank")
        ).localCheckpoint(eager=True)
        if r.agg(F.max("rank")).first()[0] == n:
            break
        k *= 2
    return r


def exact_substring_shared(shard: DataFrame, min_shared: int = SA_MIN_SHARED) -> DataFrame:
    """Per-document longest EXACT substring shared with any OTHER
    document in the shard — the true Lee et al. (2022) suffix-array
    dedup signal that cross_doc_ngram_spans / repeated_char_spans
    approximate at gram granularity (a shared span shorter than the
    gram width, or one that straddles anchor selection, is invisible
    to them; the suffix array sees every shared byte run).

    From the suffix array: for any two suffixes u in doc A, v in doc
    B sharing a prefix of length L, every suffix ranked between them
    shares >= L, and the doc label must flip somewhere in that range
    — so some ADJACENT pair with differing docs has LCP >= L. The
    per-doc max over adjacent cross-doc pair LCPs therefore equals
    the true max over ALL cross-doc suffix pairs, and (proven
    invariant) does not depend on how byte-identical suffixes are
    tie-ordered: equal suffixes contribute their full length to every
    doc present in the tie group under any permutation, and a
    boundary pair's LCP is the same whichever group member sits at
    the edge. That invariance is what makes the hash gate fair —
    DuckDB's ORDER BY substr(text, i) picks its own tie order.

    Adjacent LCPs are computed directly on the two (text, start)
    pairs with one JVM higher-order filter (first differing offset),
    identical to the oracle's list_filter formula. Output one row per
    shard doc: (doc_id, n_chars, longest_shared_len, keep) with
    keep = longest < ``min_shared``."""
    from pyspark.sql.window import Window as W

    sa = suffix_array_ranks(shard)
    w = W.orderBy("rank", "doc_id", "i")
    adj = (
        sa.select("doc_id", "i", "rank")
        .withColumn("pdoc", F.lag("doc_id").over(w))
        .withColumn("pi", F.lag("i").over(w))
        .filter(F.col("pdoc").isNotNull() & (F.col("pdoc") != F.col("doc_id")))
    )
    # The global window above ALWAYS leaves this relation in ONE
    # partition — at any scale, not just gate scale — and the LCP
    # evaluation below it is the operator's dominant CPU (per-char
    # interpreted substr over every adjacent cross-doc pair; r11
    # profile: 31.9 s single-task stage at sf0.1, 92% of the query).
    # One explicit repartition of the narrow (doc_id, i, pdoc, pi)
    # pairs spreads that CPU over the session's cores; the downstream
    # per-doc MAX re-aggregates under its own key, so placement is
    # free. This is not spread's at-scale-identity case — the
    # window's single partition is structural — so repartition
    # unconditionally.
    adj = adj.repartition(
        sa.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"), F.col("i")
    )
    ta = shard.select(F.col("doc_id").alias("doc_id"), F.col("text").alias("ta"))
    tb = shard.select(F.col("doc_id").alias("pdoc"), F.col("text").alias("tb"))
    lcp = F.expr(
        """
        coalesce(
          array_min(filter(
            sequence(1, least(length(ta) - i + 1, length(tb) - pi + 1)),
            x -> substr(ta, i + x - 1, 1) <> substr(tb, pi + x - 1, 1))),
          least(length(ta) - i + 1, length(tb) - pi + 1) + 1) - 1
        """
    ).cast("long")
    pairs = (
        adj.join(ta, "doc_id").join(tb, "pdoc")
        .select("doc_id", "pdoc", lcp.alias("lcp"))
    )
    both = pairs.select("doc_id", "lcp").unionByName(
        pairs.select(F.col("pdoc").alias("doc_id"), "lcp")
    )
    per = both.groupBy("doc_id").agg(F.max("lcp").alias("longest_shared_len"))
    longest = F.coalesce(F.col("longest_shared_len"), F.lit(0).cast("long"))
    return shard.join(per, "doc_id", "left").select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        longest.alias("longest_shared_len"),
        (longest < min_shared).alias("keep"),
    )
