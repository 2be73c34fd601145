"""Property-based tests (hypothesis) for engine laws the example-based
suites can't sweep: merge idempotence, aggregation order-independence,
as-of correctness vs brute force. Example counts are kept small —
each example round-trips through a Spark job."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from martian_moments_spark.functions.numeric import fixed_sum
from martian_moments_spark.operators.relational import asof_join

SETTINGS = dict(max_examples=10, deadline=None)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=0, max_value=50),  # version/order
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=30,
)


def _merge(existing, incoming, spark):
    """The X2 rewrite under test: incoming wins on key collision."""
    keys = ["k"]
    e = spark.createDataFrame(existing, "k INT, seq INT, v DOUBLE") if existing else None
    i = spark.createDataFrame(incoming, "k INT, seq INT, v DOUBLE")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("k").orderBy(F.col("seq").desc(), F.col("v").desc())
    i = i.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")
    if e is None:
        return i
    return i.unionByName(e.join(i.select(*keys), keys, "left_anti"))


@given(batch=rows_strategy)
@settings(**SETTINGS)
def test_merge_is_idempotent(spark_h, batch):
    """merge(merge(T, B), B) == merge(T, B): re-delivering a batch
    (retry semantics!) must not change the table."""
    once = _merge(None, batch, spark_h)
    twice = _merge([tuple(r) for r in once.collect()], batch, spark_h)
    a = sorted(tuple(r) for r in once.collect())
    b = sorted(tuple(r) for r in twice.collect())
    assert a == b


@given(batch=rows_strategy)
@settings(**SETTINGS)
def test_merge_yields_unique_keys(spark_h, batch):
    merged = _merge(None, batch, spark_h)
    n_keys = merged.select("k").distinct().count()
    assert merged.count() == n_keys


@given(vals=st.lists(st.floats(min_value=-1e4, max_value=1e4, allow_nan=False), min_size=1, max_size=40),
       nparts=st.integers(min_value=1, max_value=8))
@settings(**SETTINGS)
def test_fixed_sum_partitioning_invariant(spark_h, vals, nparts):
    """fixed_sum must be bit-identical under any partitioning — the
    property that makes results stable across AQE re-plans/retries."""
    df1 = spark_h.createDataFrame([(v,) for v in vals], "v DOUBLE")
    a = df1.agg(fixed_sum("v").alias("s")).first()["s"]
    b = df1.repartition(nparts).agg(fixed_sum("v").alias("s")).first()["s"]
    assert a == b


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=15),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 999)), min_size=1, max_size=15),
)
@settings(**SETTINGS)
def test_asof_join_matches_bruteforce(spark_h, left, right):
    """asof_join == argmax_{r.t <= l.t} (r.t, r.val) per key, or NULL."""
    l = spark_h.createDataFrame([(k, t, i) for i, (k, t) in enumerate(left)], "k INT, t INT, lid INT")
    r = spark_h.createDataFrame(right, "k INT, t INT, val INT")
    got = {
        row["lid"]: row["asof_val"]
        for row in asof_join(
            l, r, on="k", left_time="t", right_time="t",
            value_cols=["val"], right_tiebreak="val",
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rt, rv) for rk, rt, rv in right if rk == k and rt <= t]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, k, t, cands, got[i])


def test_context_packing_invariants(spark):
    """Offsets must be contiguous per source (no token gaps/overlaps)
    and every chunk_offset must sit inside the budget."""
    from martian_moments_spark.plans import load_all
    from martian_moments_spark.plans.queries_llm import PACK_BUDGET_TOKENS

    REG = load_all()
    rows = REG["context_window_packing"].fn(spark, "/root/testdata/sf0.001").collect()
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for src, docs in by_source.items():
        docs.sort(key=lambda r: r["doc_id"])
        expect = 0
        for r in docs:
            assert r["start_offset"] == expect, (src, r["doc_id"])
            assert 0 <= r["chunk_offset"] < PACK_BUDGET_TOKENS
            assert r["chunk_id"] == r["start_offset"] // PACK_BUDGET_TOKENS
            expect += r["n_tokens"]


def test_scd2_invariants(spark):
    """Exactly one open row per key; closed rows end where a newer row
    begins; validity intervals never overlap."""
    from martian_moments_spark.plans import load_all

    REG = load_all()
    rows = REG["scd2_dimension_merge"].fn(spark, "/root/testdata/sf0.001").collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["c_custkey"], []).append(r)
    for k, versions in by_key.items():
        open_rows = [r for r in versions if r["is_current"]]
        assert len(open_rows) == 1, k
        assert open_rows[0]["valid_to"] is None
        closed = sorted(
            (r for r in versions if not r["is_current"]), key=lambda r: r["valid_from"]
        )
        for r in closed:
            assert r["valid_to"] is not None and r["valid_to"] > r["valid_from"]
        spans = sorted(
            (r["valid_from"], r["valid_to"] if r["valid_to"] is not None else 1 << 30)
            for r in versions
        )
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert e1 <= s2, f"overlapping validity for key {k}"


def test_sessionize_invariants(spark):
    """Session indexes start at 1, never decrease along a user's
    timeline, and increment exactly at gaps > 30 minutes."""
    from martian_moments_spark.plans import load_all
    from martian_moments_spark.plans.queries_streaming import SESSION_GAP_SECONDS

    REG = load_all()
    rows = REG["sessionize_events"].fn(spark, "/root/testdata/sf0.001").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for u, evs in by_user.items():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        assert evs[0]["session_idx"] == 1
        for a, b in zip(evs, evs[1:]):
            gap = (b["ts"] - a["ts"]).total_seconds()
            expected = a["session_idx"] + (1 if gap > SESSION_GAP_SECONDS else 0)
            assert b["session_idx"] == expected, (u, a["event_id"], b["event_id"])


op_strategy = st.lists(
    st.tuples(
        st.sampled_from(["append", "overwrite", "merge", "restore"]),
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=4),  # key
                st.integers(min_value=0, max_value=9),  # seq
            ),
            min_size=1,
            max_size=4,
        ),
    ),
    min_size=1,
    max_size=5,
)


@given(ops=op_strategy)
@settings(max_examples=8, deadline=None)
def test_lakehouse_log_replay_matches_model(spark_h, ops, tmp_path_factory):
    """Model-based check of the delta log: any sequence of
    append/overwrite/merge/restore commits must reconstruct — at EVERY
    version, through checkpoints or not — exactly the state an
    in-memory model predicts. A restore targets a prior version chosen
    from the generated data (first key mod versions-so-far) and must
    itself replay as a commit. Shrunk checkpoint interval forces
    checkpoint rolls inside the sequence."""
    from martian_moments_spark import lakehouse as lh

    old_interval = lh.CHECKPOINT_INTERVAL
    lh.CHECKPOINT_INTERVAL = 2
    try:
        table = str(tmp_path_factory.mktemp("lh") / "t")
        # a restore before any commit is meaningless: force op 0 to be
        # a state-creating op
        if ops[0][0] == "restore":
            ops = [("append", ops[0][1])] + ops[1:]
        for i, (op, rows) in enumerate(ops):
            df = spark_h.createDataFrame(rows, "k BIGINT, seq BIGINT")
            if op == "append":
                lh.append(df, table)
            elif op == "overwrite":
                lh.overwrite(df, table)
            elif op == "merge":
                lh.merge_upsert(spark_h, df, table, keys=["k"], order_col="seq")
            else:
                lh.restore_table(table, rows[0][0] % i)

        # the model: a multiset of rows folded op by op
        from collections import Counter

        expect = Counter()
        per_version_expect = []
        for i, (op, rows) in enumerate(ops):
            if op == "append":
                expect = expect + Counter(rows)
            elif op == "overwrite":
                expect = Counter(rows)
            elif op == "restore":
                expect = Counter(per_version_expect[rows[0][0] % i])
            else:  # merge: last-writer-wins per key, seq desc
                best = {}
                for k, s in rows:
                    if k not in best or s > best[k]:
                        best[k] = s
                survivors = Counter(
                    {(k, s): c for (k, s), c in expect.items() if k not in best}
                )
                expect = survivors + Counter({(k, s): 1 for k, s in best.items()})
            per_version_expect.append(Counter(expect))

        for v, want in enumerate(per_version_expect):
            got = Counter(
                (r["k"], r["seq"])
                for r in lh.read_table(spark_h, table, version=v).collect()
            )
            assert got == want, (v, got, want)
    finally:
        lh.CHECKPOINT_INTERVAL = old_interval


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=15),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 999)), min_size=1, max_size=15),
)
@settings(**SETTINGS)
def test_asof_join_forward_matches_bruteforce(spark_h, left, right):
    """forward as-of == argmin_{r.t >= l.t} (r.t, -r.val) per key — the
    earliest future right row, largest val on time ties."""
    l = spark_h.createDataFrame([(k, t, i) for i, (k, t) in enumerate(left)], "k INT, t INT, lid INT")
    r = spark_h.createDataFrame(right, "k INT, t INT, val INT")
    got = {
        row["lid"]: row["asof_val"]
        for row in asof_join(
            l, r, on="k", left_time="t", right_time="t",
            value_cols=["val"], right_tiebreak="val", direction="forward",
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rt, -rv) for rk, rt, rv in right if rk == k and rt >= t]
        expect = -min(cands)[1] if cands else None
        assert got[i] == expect, (i, k, t, cands, got[i])


# ---------------------------------------------------------- batched BPE law


def _seq_bpe(word_counts: dict[str, int], num_merges: int) -> list[tuple]:
    """Textbook sequential Sennrich loop (pure Python, independent of
    llmops.bpe internals) — the ground truth _safe_batch must equal."""
    syms = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(num_merges):
        pc: dict[tuple, int] = {}
        for w, n in word_counts.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + n
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((l, r, c))
        for w, s in syms.items():
            out: list[str] = []
            for tok in s:
                if out and out[-1] == l and tok == r:
                    out[-1] = l + r
                else:
                    out.append(tok)
            syms[w] = out
    return merges


def _batched_bpe(word_counts: dict[str, int], num_merges: int, batch_limit: int) -> list[tuple]:
    """Pure-Python replay of learn_bpe_merges' batched round structure
    (same _safe_batch, same fold) so hypothesis can sweep corpora
    without a Spark job per example."""
    from martian_moments_spark.llmops.bpe import _safe_batch

    syms = {w: list(w) for w in word_counts}
    merges: list[tuple] = []
    window = 4 * batch_limit + 1
    while len(merges) < num_merges:
        pc: dict[tuple, int] = {}
        for w, n in word_counts.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + n
        if not pc:
            break
        rows = [
            {"left": l, "right": r, "pair_count": c}
            for (l, r), c in sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        ][:window]
        kept = _safe_batch(rows, window, batch_limit)[: num_merges - len(merges)]
        for m in kept:
            l, r = m["left"], m["right"]
            merges.append((l, r, m["pair_count"]))
            for w, s in syms.items():
                out: list[str] = []
                for tok in s:
                    if out and out[-1] == l and tok == r:
                        out[-1] = l + r
                    else:
                        out.append(tok)
                syms[w] = out
    return merges


@given(
    words=st.dictionaries(
        st.text(alphabet="abcd", min_size=1, max_size=8),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=12,
    ),
    num_merges=st.integers(min_value=1, max_value=10),
    batch_limit=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=200, deadline=None)
def test_batched_bpe_equals_sequential_on_random_corpora(words, num_merges, batch_limit):
    """The _safe_batch exactness argument, swept: tiny alphabets force
    dense symbol conflicts and count ties — exactly the regime where an
    unsound batch rule would diverge from the sequential argmax."""
    assert _batched_bpe(words, num_merges, batch_limit) == _seq_bpe(words, num_merges)


# ------------------------------------------------------ SRP collision laws


def test_srp_identical_and_negated_vectors(spark):
    """Deterministic LSH laws: identical vectors share every band
    (always candidates); a negated vector flips every sign bit, so it
    shares NO band value with the original unless a zero dot pins a
    tie (ruled out here by odd coordinates)."""
    from martian_moments_spark.llmops.similarity import (
        SRP_BAND_BITS,
        SRP_BITS,
        srp_bands_pandas,
        with_units_and_norm,
    )

    vec = [float(2 * (i % 3) + 1) * (1 if i % 2 else -1) for i in range(64)]
    neg = [-x for x in vec]
    df = spark.createDataFrame(
        [(0, vec), (1, vec), (2, neg)], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    base = with_units_and_norm(df).select("vec_id", "units", "norm2")
    rows = srp_bands_pandas(base).select("vec_id", "band_idx", "band_val").collect()
    bands = {}
    for r in rows:
        bands.setdefault(r["vec_id"], {})[r["band_idx"]] = r["band_val"]
    n_bands = SRP_BITS // SRP_BAND_BITS
    assert bands[0] == bands[1] and len(bands[0]) == n_bands
    # every band differs between a vector and its negation
    assert all(bands[0][b] != bands[2][b] for b in range(n_bands))


@given(
    keys=st.lists(
        st.tuples(st.text(alphabet="abcdefg", min_size=1, max_size=4),
                  st.integers(min_value=1, max_value=20)),
        min_size=1, max_size=25,
    ),
    split=st.integers(min_value=0, max_value=24),
)
@settings(**SETTINGS)
def test_cms_laws_random_corpora(spark_h, keys, split):
    """CMS laws under hypothesis: estimate >= truth for every key, and
    merge of an arbitrary split == sketch of the whole."""
    from martian_moments_spark.functions.sketches import (
        cms_build, cms_estimate, cms_merge,
    )

    df = spark_h.createDataFrame(keys, "k STRING, n BIGINT")
    whole = cms_build(df, "k", weight_col="n")
    est = {
        r["k"]: r["cms_estimate"]
        for r in cms_estimate(whole, df.select("k").distinct(), "k").collect()
    }
    truth: dict[str, int] = {}
    for k, n in keys:
        truth[k] = truth.get(k, 0) + n
    assert all(est[k] >= v for k, v in truth.items())

    cut = min(split, len(keys))
    parts = [keys[:cut], keys[cut:]]
    sketches = [
        cms_build(spark_h.createDataFrame(p, "k STRING, n BIGINT"), "k", weight_col="n")
        for p in parts if p
    ]
    merged = sketches[0]
    for s in sketches[1:]:
        merged = cms_merge(merged, s)
    cells = lambda d: {(r["row"], r["bucket"]): r["total"] for r in d.collect()}
    assert cells(merged) == cells(whole)


@given(
    pairs=st.lists(
        st.tuples(
            st.text(alphabet="abZ#09", min_size=0, max_size=12),
            st.text(alphabet="abZ#09", min_size=0, max_size=12),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_levenshtein_threshold_equals_unbounded_cut(spark_h, pairs):
    """The banded DP edit_distance_pairs relies on: for any strings,
    levenshtein(a, b, threshold=2) == levenshtein(a, b) whenever the
    true distance is <= 2, and -1 otherwise — so filtering the banded
    column to [0, 2] keeps exactly the pairs the unbounded <= 2 cut
    keeps, with identical reported distances."""
    df = spark_h.createDataFrame(pairs, "a STRING, b STRING")
    rows = df.select(
        F.levenshtein("a", "b").alias("full"),
        F.levenshtein("a", "b", 2).alias("banded"),
    ).collect()
    for r in rows:
        if r["full"] <= 2:
            assert r["banded"] == r["full"]
        else:
            assert r["banded"] == -1


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_triangle_participation_matches_bruteforce(spark_h, edges):
    """The degree-ordered adjacency-intersection triangle count
    (triangle_count_copurchase's algorithm) must equal the brute-force
    triple loop on any graph: same triangle set regardless of
    orientation, each counted exactly once."""
    from itertools import combinations

    from pyspark.sql import functions as Fn

    simple = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not simple:
        return
    adj = {}
    for a, b in simple:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect: dict[int, int] = {}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for v in (x, y, z):
                expect[v] = expect.get(v, 0) + 1

    e = spark_h.createDataFrame(simple, "a INT, b INT")
    deg = (
        e.select(Fn.col("a").alias("v"))
        .unionAll(e.select(Fn.col("b").alias("v")))
        .groupBy("v")
        .agg(Fn.count(Fn.lit(1)).alias("degree"))
    )
    da = deg.select(Fn.col("v").alias("a"), Fn.col("degree").alias("deg_a"))
    db = deg.select(Fn.col("v").alias("b"), Fn.col("degree").alias("deg_b"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (Fn.col("deg_a") < Fn.col("deg_b")) | (
        (Fn.col("deg_a") == Fn.col("deg_b")) & (Fn.col("a") < Fn.col("b"))
    )
    oriented = ed.select(
        Fn.when(a_first, Fn.col("a")).otherwise(Fn.col("b")).alias("src"),
        Fn.when(a_first, Fn.col("b")).otherwise(Fn.col("a")).alias("dst"),
    )
    al = oriented.groupBy(Fn.col("src").alias("v")).agg(
        Fn.collect_list("dst").alias("nbrs")
    )
    tri = (
        oriented.join(al.select(Fn.col("v").alias("src"), Fn.col("nbrs").alias("nu")), "src")
        .join(al.select(Fn.col("v").alias("dst"), Fn.col("nbrs").alias("nv")), "dst")
        .select("src", "dst", Fn.explode(Fn.array_intersect("nu", "nv")).alias("w"))
    )
    got: dict[int, int] = {}
    for r in tri.collect():
        for v in (r["src"], r["dst"], r["w"]):
            got[v] = got.get(v, 0) + 1
    assert got == expect, (simple, got, expect)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark_h, edges):
    """Frontier min-label propagation must equal brute-force
    union-find on any graph — including long chains, where the
    frontier shrinks to the single still-improving end each round."""
    from martian_moments_spark.llmops.dedup import connected_components

    pairs = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    vertices = list(range(15))

    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {v: find(v) for v in vertices}

    vdf = spark_h.createDataFrame([(v,) for v in vertices], "doc_id INT")
    edf = spark_h.createDataFrame(
        pairs or [(0, 0)], "id_a INT, id_b INT"
    )
    if not pairs:
        edf = edf.filter("id_a <> id_a")  # empty edge set, schema kept
    got = {
        r["doc_id"]: r["component_id"]
        for r in connected_components(vdf, edf).collect()
    }
    assert got == expect, (pairs, got, expect)


@given(
    names=st.lists(
        st.text(alphabet="ab1#", min_size=0, max_size=10),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_deletion_canopy_same_survivors_as_all_pairs(spark_h, names):
    """The deletion-neighborhood canopy (edit_distance_pairs's
    candidate stage) must have recall 1 at ed<=2: canopy -> banded
    verify keeps EXACTLY the pairs an all-pairs scan keeps, with
    identical distances — on adversarial corpora (tiny alphabet, empty
    strings, duplicates) where near-pairs are dense."""
    from martian_moments_spark.llmops.dedup import deletion_neighborhood_candidates

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[len(b)]

    rows = [(i, i % 2, s) for i, s in enumerate(names)]
    expect = {
        (i, j): lev(sa, sb)
        for i, bi, sa in rows
        for j, bj, sb in rows
        if i < j and bi == bj and lev(sa, sb) <= 2
    }

    df = spark_h.createDataFrame(rows, "id INT, block INT, name STRING")
    cand = deletion_neighborhood_candidates(
        df, block_col="block", id_col="id", text_col="name", k=2
    )
    na = df.select(F.col("id").alias("id_a"), F.col("name").alias("name_a"))
    nb = df.select(F.col("id").alias("id_b"), F.col("name").alias("name_b"))
    got = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in (
            cand.join(na, "id_a")
            .join(nb, "id_b")
            .withColumn("edit_dist", F.levenshtein("name_a", "name_b", 2).cast("int"))
            .filter(F.col("edit_dist").between(0, 2))
            .collect()
        )
    }
    assert got == expect, (rows, got, expect)


def test_frontier_collapses_within_diameter_rounds(spark):
    """The frontier rewrite's contract: on a worst-case path graph
    (diameter d, minimum label at one end) the frontier empties within
    d+1 rounds, sizes are monotone non-increasing after the peak, and
    total message volume is O(E + sum of frontier sizes) — NOT
    O(E*diameter), the regression this test exists to block. Labels
    must still all converge to the path's minimum."""
    from martian_moments_spark.llmops.dedup import connected_components

    n = 24  # path 0-1-...-23, diameter 23
    vdf = spark.createDataFrame([(v,) for v in range(n)], "doc_id INT")
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a INT, id_b INT"
    )
    sizes: list[int] = []
    labels = {
        r["doc_id"]: r["component_id"]
        for r in connected_components(
            vdf, edf, max_iter=n + 2, frontier_sizes=sizes
        ).collect()
    }
    assert labels == {v: 0 for v in range(n)}
    diameter = n - 1
    assert len(sizes) <= diameter + 1, sizes
    assert sizes[-1] == 0
    peak = sizes.index(max(sizes))
    tail = sizes[peak:]
    assert all(a >= b for a, b in zip(tail, tail[1:])), sizes
    # vs every-vertex re-send: sum(frontier) must be strictly below
    # n * rounds (the O(V*diameter) message bill the rewrite retired)
    assert sum(sizes) < n * len(sizes)


def test_lsh_skew_hot_template_bounded_by_dedup_first(spark):
    """LSH skew law (VERDICT r04 #7): a hot exact-duplicate template
    (5% of docs) makes every copy collide in every band — C(h,2)
    candidate pairs from that template alone — so raw LSH on a
    duplicate-heavy corpus is quadratic in the hot count. The
    deployment composition (exact_dedup FIRST, LSH over
    representatives) must collapse the hot template to one rep: zero
    hot-pair candidates, total candidates bounded by near-dup
    collisions among unique docs."""
    from martian_moments_spark.llmops.dedup import exact_dedup, lsh_candidates

    n, hot = 400, 20  # 5% of docs are byte-identical copies of doc 0
    rows = []
    for i in range(n):
        if i < hot:
            text = "the hot template every copy shares verbatim tokens"
        else:
            # unique word-salad: ids woven in so texts are distinct
            text = f"doc {i} unique words alpha{i % 7} beta{i % 11} gamma{i} delta"
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")

    raw = lsh_candidates(docs)
    hot_pairs_raw = raw.filter((F.col("id_a") < hot) & (F.col("id_b") < hot)).count()
    assert hot_pairs_raw == hot * (hot - 1) // 2  # exact dups share ALL bands

    reps = exact_dedup(docs).select(F.col("kept_doc_id").alias("doc_id"))
    rep_docs = docs.join(reps, "doc_id")
    assert rep_docs.count() == n - hot + 1
    dedup_first = lsh_candidates(rep_docs)
    hot_pairs_after = dedup_first.filter(
        (F.col("id_a") < hot) & (F.col("id_b") < hot)
    ).count()
    assert hot_pairs_after == 0  # one representative -> no self-pairs
    # near-dup collisions among unique word-salads stay sub-linear —
    # the candidate set must not inherit the template's quadratic term
    assert dedup_first.count() < raw.count() - hot_pairs_raw + hot
    assert dedup_first.count() < n


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=15),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 999)), min_size=1, max_size=15),
    tol=st.one_of(st.none(), st.integers(0, 30)),
)
@settings(**SETTINGS)
def test_asof_join_nearest_matches_bruteforce(spark_h, left, right, tol):
    """nearest as-of == the closer of the backward/forward candidates
    (tie -> backward; within-direction time ties -> largest val;
    tolerance nulls each direction independently before the choice) —
    pandas merge_asof(direction='nearest') semantics."""
    l = spark_h.createDataFrame([(k, t, i) for i, (k, t) in enumerate(left)], "k INT, t INT, lid INT")
    r = spark_h.createDataFrame(right, "k INT, t INT, val INT")
    got = {
        row["lid"]: row["asof_val"]
        for row in asof_join(
            l, r, on="k", left_time="t", right_time="t",
            value_cols=["val"], right_tiebreak="val", direction="nearest",
            tolerance=tol,
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        back = [(rt, rv) for rk, rt, rv in right if rk == k and rt <= t
                and (tol is None or t - rt <= tol)]
        fwd = [(rt, -rv) for rk, rt, rv in right if rk == k and rt >= t
               and (tol is None or rt - t <= tol)]
        b = max(back) if back else None
        f = min(fwd) if fwd else None
        if b is None and f is None:
            expect = None
        elif f is None:
            expect = b[1]
        elif b is None:
            expect = -f[1]
        else:
            expect = b[1] if (t - b[0]) <= (f[0] - t) else -f[1]
        assert got[i] == expect, (i, k, t, b, f, got[i])


def test_near_dup_degree_histogram_invariants(spark):
    """The degree histogram must partition the corpus (sum n_docs =
    |documents|) and carry exactly two edge ends per verified pair
    (sum degree*n_docs = 2|E|) — the invariants that make it a safe
    pre-closure skew diagnostic."""
    from martian_moments_spark.plans import load_all
    from martian_moments_spark.plans.queries_llm import _lsh_verified_pairs

    REG = load_all()
    sf = "/root/testdata/sf0.001"
    hist = REG["near_dup_degree_stats"].fn(spark, sf).collect()
    n_docs_total = spark.read.parquet(f"{sf}/documents.parquet").count()
    n_edges = _lsh_verified_pairs(spark, sf).count()
    assert sum(r["n_docs"] for r in hist) == n_docs_total
    assert sum(r["degree"] * r["n_docs"] for r in hist) == 2 * n_edges


def test_dedup_threshold_sweep_is_monotone(spark):
    """Raising the threshold can only shrink both the surviving pair
    set and the retired-document set; at FUZZY_TAU=0.8 the pair count
    must equal |_lsh_verified_pairs| (same filter, same seam)."""
    from martian_moments_spark.plans import load_all
    from martian_moments_spark.plans.queries_llm import _lsh_verified_pairs

    REG = load_all()
    sf = "/root/testdata/sf0.001"
    rows = sorted(
        REG["dedup_threshold_sweep"].fn(spark, sf).collect(),
        key=lambda r: r["tau_pct"],
    )
    for lo, hi in zip(rows, rows[1:]):
        assert hi["n_pairs"] <= lo["n_pairs"]
        assert hi["n_docs_retired"] <= lo["n_docs_retired"]
    at80 = {r["tau_pct"]: r["n_pairs"] for r in rows}[80]
    assert at80 == _lsh_verified_pairs(spark, sf).count()


def test_snapshot_diff_statuses_partition_key_space(spark):
    """added/removed/changed must be disjoint and reproduce the
    set-algebra of the two snapshot key sets: added = B\\A,
    removed = A\\B, and changed ⊆ A∩B with a non-empty mask."""
    from martian_moments_spark.plans import load_all

    REG = load_all()
    sf = "/root/testdata/sf0.001"
    rows = REG["snapshot_table_diff"].fn(spark, sf).collect()
    by_status: dict = {}
    for r in rows:
        by_status.setdefault(r["diff_status"], []).append(r)
    assert set(by_status) <= {"added", "removed", "changed"}
    for r in by_status.get("added", []):
        assert r["status_a"] is None and r["price_a_cents"] is None
        assert r["change_mask"] == ""
    for r in by_status.get("removed", []):
        assert r["status_b"] is None and r["price_b_cents"] is None
        assert r["change_mask"] == ""
    for r in by_status.get("changed", []):
        assert r["change_mask"] in ("S", "P", "SP")
        if "P" in r["change_mask"]:
            assert r["price_a_cents"] != r["price_b_cents"]
        if "S" in r["change_mask"]:
            assert r["status_a"] != r["status_b"]
        else:
            assert r["status_a"] == r["status_b"]


def test_packing_efficiency_accounting_closes(spark):
    """Per source: chunk capacity = total tokens + tail waste (the
    ledger must close), and the fill rate in basis points must equal
    the integer ratio of those quantities."""
    from martian_moments_spark.plans import load_all
    from martian_moments_spark.plans.queries_llm import PACK_BUDGET_TOKENS

    REG = load_all()
    rows = REG["packing_efficiency_report"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        cap = r["n_chunks"] * PACK_BUDGET_TOKENS
        assert cap == r["total_tokens"] + r["tail_waste_tokens"]
        if r["total_tokens"]:
            assert r["fill_bp"] == r["total_tokens"] * 10000 // cap
            assert 0 < r["fill_bp"] <= 10000
        assert 0 <= r["boundary_straddles"] <= r["n_docs"]


def test_watermark_audit_monotone_and_lossless_at_jitter_bound(spark):
    """More watermark delay can only drop fewer events, and a delay
    equal to the transport-jitter bound must drop exactly zero (no
    arrival lags its event time by more than the bound)."""
    from martian_moments_spark.plans import load_all
    from martian_moments_spark.plans.queries_events import WM_JITTER_US

    REG = load_all()
    rows = sorted(
        REG["watermark_late_event_audit"].fn(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["delay_us"],
    )
    assert rows and rows[-1]["delay_us"] == WM_JITTER_US
    for lo, hi in zip(rows, rows[1:]):
        assert hi["n_dropped"] <= lo["n_dropped"]
    assert rows[-1]["n_dropped"] == 0 and rows[-1]["max_late_us"] is None
    for r in rows[:-1]:
        if r["n_dropped"]:
            assert 0 < r["max_late_us"] < WM_JITTER_US


def test_hard_negatives_are_cross_label_and_ranked(spark):
    """Every mined negative must carry a different label from its
    anchor, ranks must be contiguous from 1, and cosine must be
    non-increasing in rank (ties broken by neg_id ascending)."""
    from martian_moments_spark.plans import load_all
    from martian_moments_spark.plans.queries_curation import HN_K

    REG = load_all()
    rows = REG["hard_negative_mining"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_q: dict = {}
    for r in rows:
        assert r["query_label"] != r["neg_label"]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= HN_K
        for lo, hi in zip(rs, rs[1:]):
            assert hi["cosine"] <= lo["cosine"] or (
                hi["cosine"] == lo["cosine"] and hi["neg_id"] > lo["neg_id"]
            )


def test_outlier_pruning_markov_bound(spark):
    """dist2 > FACTOR x cell mean can hold for fewer than
    n_cell/FACTOR members (Markov's inequality) — the structural
    guarantee that pruning never removes a cell's bulk."""
    from martian_moments_spark.plans import load_all
    from martian_moments_spark.plans.queries_curation import OUTLIER_FACTOR

    REG = load_all()
    rows = REG["embedding_outlier_pruning"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, rs in by_cell.items():
        n = len(rs)
        assert all(r["n_cell"] == n for r in rs)
        n_out = sum(1 for r in rs if r["is_outlier"])
        assert n_out < n / OUTLIER_FACTOR or n_out == 0
        total = sum(r["dist2"] for r in rs)
        for r in rs:
            assert r["is_outlier"] == (r["dist2"] * n > OUTLIER_FACTOR * total)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),            # cell
            st.lists(st.integers(-3, 3), min_size=3, max_size=3),  # units
            st.booleans(),                # is_cand
        ),
        min_size=1,
        max_size=20,
    ),
)
@settings(**SETTINGS)
def test_filtered_topk_matches_bruteforce(spark_h, rows):
    """topk_units_cells_filtered_pandas == per-query brute force over
    same-cell candidates with the flag set: rank by (cosine DESC, id),
    top-k, self excluded — including float-exact cosine (int64 dot
    cast double, one division by sqrt(n2a)*sqrt(n2b))."""
    import math

    from martian_moments_spark.llmops.similarity import (
        topk_units_cells_filtered_pandas,
    )

    data = []
    for i, (cell, units, is_cand) in enumerate(rows):
        if not any(units):
            units = [1] + units[1:]  # zero vectors have no cosine
        data.append((i, [int(u) for u in units], cell, is_cand))
    df = spark_h.createDataFrame(
        data, "vec_id BIGINT, units ARRAY<BIGINT>, cell INT, is_cand BOOLEAN"
    )
    K = 2
    got = {}
    for r in topk_units_cells_filtered_pandas(df, k=K).collect():
        got.setdefault(r["id_a"], []).append(
            (r["rank"], r["id_b"], r["cosine"], r["cell"])
        )

    def cos(ua, ub):
        dot = sum(x * y for x, y in zip(ua, ub))
        na = sum(x * x for x in ua)
        nb = sum(x * x for x in ub)
        return float(dot) / (math.sqrt(float(na)) * math.sqrt(float(nb)))

    for qid, qunits, qcell, _ in data:
        cands = [
            (cid, cunits)
            for cid, cunits, ccell, cflag in data
            if ccell == qcell and cflag and cid != qid
        ]
        expect = sorted(
            ((cos(qunits, cu), cid) for cid, cu in cands),
            key=lambda t: (-t[0], t[1]),
        )[:K]
        want = [
            (rank, cid, c, qcell)
            for rank, (c, cid) in enumerate(expect, start=1)
        ]
        assert sorted(got.get(qid, [])) == want, (qid, got.get(qid), want)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),           # owner id
            st.integers(min_value=0, max_value=(1 << 61) - 1),  # match id (full packing domain)
            st.integers(min_value=0, max_value=2),           # edit dist
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_packed_topk_matches_bruteforce(spark_h, rows):
    """topk_nearest_matches (edit_distance_topk's selection stage)
    must equal the brute-force per-id sort of (edit_dist, match_id)
    truncated to k — including ties on distance, duplicate candidate
    rows, and match ids at the very top of the 2^61 packing domain
    (where any float detour in pack/unpack would corrupt low bits)."""
    from martian_moments_spark.plans.queries_analytics import topk_nearest_matches

    K = 3
    expect: dict[int, list[tuple[int, int]]] = {}
    for owner, mid, dist in rows:
        expect.setdefault(owner, []).append((dist, mid))
    want = {
        owner: sorted(cands)[:K] for owner, cands in expect.items()
    }

    df = spark_h.createDataFrame(
        rows, "c_custkey BIGINT, match_id BIGINT, edit_dist INT"
    )
    got: dict[int, list[tuple[int, int, int]]] = {}
    for r in topk_nearest_matches(df, k=K).collect():
        got.setdefault(r["c_custkey"], []).append(
            (r["match_rank"], r["edit_dist"], r["match_id"])
        )
    got_sorted = {
        owner: [(d, m) for _, d, m in sorted(vals)] for owner, vals in got.items()
    }
    assert got_sorted == want, (rows, got_sorted, want)
    # ranks are 1..len per owner
    for owner, vals in got.items():
        assert [rk for rk, _, _ in sorted(vals)] == list(range(1, len(vals) + 1))


def _py_char_spans(texts, k, sel):
    """Pure-Python reference for char_span_stats: md5-anchor grams,
    cross-doc dup on gram equality, per-doc island merge."""
    import hashlib

    def h31(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % 2_147_483_647

    anch = []  # (doc, i 1-based, gram)
    for d, t in texts:
        for i in range(1, max(len(t) - k + 1, 0) + 1):
            g = t[i - 1 : i - 1 + k]
            if h31(g) % sel == 0:
                anch.append((d, i, g))
    by_gram = {}
    for d, i, g in anch:
        by_gram.setdefault(g, set()).add(d)
    dup = {g for g, ds in by_gram.items() if len(ds) >= 2}
    out = {}
    for d, t in texts:
        hits = sorted(i for dd, i, g in anch if dd == d and g in dup)
        spans = []
        for i in hits:
            if spans and i - spans[-1][1] <= k:
                spans[-1][1] = i
            else:
                spans.append([i, i])
        spans = [(s, e - s + k) for s, e in spans]
        covered = sum(ln for _, ln in spans)
        if spans:
            longest = max(spans, key=lambda p: (p[1], -p[0]))
            l_len, l_start = longest[1], longest[0]
        else:
            l_len, l_start = 0, 0
        n = len(t)
        ratio = covered / n if n else 0.0
        out[d] = (
            n, len(hits), len(spans), covered, l_len, l_start, ratio,
            (ratio <= 0.3) if n else True,
        )
    return out


@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=60),
        min_size=2,
        max_size=8,
    ),
    boiler=st.text(alphabet="ab ", min_size=12, max_size=30),
    offs=st.tuples(
        st.integers(min_value=0, max_value=40), st.integers(min_value=0, max_value=40)
    ),
)
@settings(**SETTINGS)
def test_char_span_stats_matches_bruteforce(spark_h, docs, boiler, offs):
    """char_span_stats (repeated_char_spans's engine) must equal the
    pure-Python reference on every output column — including planted
    boilerplate: the same string inserted into docs 0 and 1 at
    arbitrary offsets (content-defined anchors make detection
    alignment-independent), tiny alphabets where incidental repeats
    are dense, and empty/short docs."""
    from martian_moments_spark.llmops.dedup import char_span_stats

    K, SEL = 8, 2  # smaller than production so 60-char docs exercise spans
    planted = list(docs)
    for idx, off in zip((0, 1), offs):
        t = planted[idx]
        o = min(off, len(t))
        planted[idx] = t[:o] + boiler + t[o:]
    rows = [(i, t) for i, t in enumerate(planted)]
    expect = _py_char_spans(rows, K, SEL)

    df = spark_h.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: (
            r["n_chars"], r["n_hit_anchors"], r["n_spans"], r["covered_chars"],
            r["longest_len"], r["longest_start"], r["dup_coverage_ratio"], r["keep"],
        )
        for r in char_span_stats(df, k=K, sel=SEL).collect()
    }
    assert got == expect

    # Recall law, all-or-nothing per span: if the planted boilerplate
    # contains any anchor gram, BOTH host docs must report coverage.
    import hashlib

    def h31(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % 2_147_483_647

    if any(
        h31(boiler[j : j + K]) % SEL == 0 for j in range(len(boiler) - K + 1)
    ):
        assert got[0][3] >= K and got[1][3] >= K

    # strip_repeated_spans's engine: cutting the islands out must
    # equal deleting exactly the covered character positions
    from martian_moments_spark.llmops.dedup import (
        char_span_islands,
        strip_islands_text,
    )

    islands = char_span_islands(df, k=K, sel=SEL)
    stripped = {
        r["doc_id"]: (r["n_chars"], r["n_chars_removed"], r["text_cleaned"])
        for r in strip_islands_text(df, islands).collect()
    }
    anch2 = {}
    for d, t in rows:
        anch2[d] = [
            i
            for i in range(1, max(len(t) - K + 1, 0) + 1)
            if h31(t[i - 1 : i - 1 + K]) % SEL == 0
        ]
    by_gram2 = {}
    for d, t in rows:
        for i in anch2[d]:
            by_gram2.setdefault(t[i - 1 : i - 1 + K], set()).add(d)
    for d, t in rows:
        covered = set()
        for i in anch2[d]:
            if len(by_gram2[t[i - 1 : i - 1 + K]]) >= 2:
                covered.update(range(i, i + K))
        kept = "".join(ch for pos, ch in enumerate(t, 1) if pos not in covered)
        assert stripped[d] == (len(t), len(covered), kept), (d, stripped[d])


class _Crash(RuntimeError):
    pass


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=7),   # key
                st.integers(min_value=0, max_value=50),  # order
                st.integers(min_value=-99, max_value=99),
            ),
            min_size=1,
            max_size=10,
        ),
        min_size=2,
        max_size=4,
    ),
    crashes=st.lists(
        st.sampled_from([None, "stage", "seal", "swap"]), min_size=4, max_size=4
    ),
)
@settings(max_examples=8, deadline=None)
def test_bucketed_merge_survives_crash_injection(spark_h, batches, crashes, tmp_path_factory):
    """Crash-injection property for merge_upsert_bucketed (the VERDICT
    r06 Next #6 gap): kill the writer at each durability boundary —
    after data staging ("stage"), between manifest seal and the atomic
    swap ("seal"), and after the swap but before tmp cleanup /
    checkpoint roll ("swap") — then replay the SAME batch, the way a
    crashed job reruns. Invariants:
      - a pre-swap crash leaves the table bit-identical to the prior
        state (no torn version, leftover tmp manifests ignored);
      - a post-swap crash means the commit landed even though the
        caller got an exception (torn ack) — replaying the identical
        batch is idempotent on table STATE;
      - after every crash+replay the table equals the last-writer-wins
        model, crash debris never breaks later commits, reads, or the
        shrunk-interval checkpoint roll, and vacuum sweeps the
        debris without touching live data."""
    from unittest import mock

    from martian_moments_spark import lakehouse as lh

    old_interval = lh.CHECKPOINT_INTERVAL
    lh.CHECKPOINT_INTERVAL = 2
    real_link = __import__("os").link
    try:
        table = str(tmp_path_factory.mktemp("lhc") / "t")
        model: dict[int, tuple[int, int]] = {}

        for rows, crash in zip(batches, crashes):
            # unique (key, order) inside a batch: the row_number
            # tiebreak on equal order is unordered, and the model
            # must be deterministic
            seen, uniq = set(), []
            for k, s, v in rows:
                if (k, s) not in seen:
                    seen.add((k, s))
                    uniq.append((k, s, v))
            df = spark_h.createDataFrame(uniq, "k BIGINT, seq BIGINT, v BIGINT")

            def apply_batch():
                lh.merge_upsert_bucketed(
                    spark_h, df, table, keys=["k"], order_col="seq", num_buckets=4
                )

            before = dict(model)
            best: dict[int, tuple[int, int]] = {}
            for k, s, v in uniq:
                if k not in best or s > best[k][0]:
                    best[k] = (s, v)
            model.update(best)

            if crash is None:
                apply_batch()
            else:
                if crash == "stage":
                    patcher = mock.patch.object(
                        lh, "_collect_stats", side_effect=_Crash()
                    )
                elif crash == "seal":
                    patcher = mock.patch("os.link", side_effect=_Crash())
                else:  # swap: publish succeeds, then the process dies

                    def link_then_die(src, dst, _real=real_link):
                        _real(src, dst)
                        raise _Crash()

                    patcher = mock.patch("os.link", side_effect=link_then_die)
                try:
                    with patcher:
                        apply_batch()
                    raise AssertionError("crash injection did not fire")
                except _Crash:
                    pass
                got_mid = {
                    r["k"]: (r["seq"], r["v"])
                    for r in lh.read_table(spark_h, table).collect()
                } if lh.current_version(table) is not None else {}
                if crash == "swap":
                    assert got_mid == model  # torn ack: commit landed
                else:
                    assert got_mid == before  # no torn version
                apply_batch()  # the crashed job's rerun

            got = {
                r["k"]: (r["seq"], r["v"])
                for r in lh.read_table(spark_h, table).collect()
            }
            assert got == model

        swept = lh.vacuum(table, keep_versions=1, retention_seconds=0)
        got = {
            r["k"]: (r["seq"], r["v"])
            for r in lh.read_table(spark_h, table).collect()
        }
        assert got == model, f"vacuum broke live state (swept {swept})"
    finally:
        lh.CHECKPOINT_INTERVAL = old_interval


# ---------------------------------------------------------------- LM filter

lm_natural_docs = st.lists(
    st.lists(
        st.sampled_from([f"w{i}" for i in range(12)]),
        min_size=12,
        max_size=30,
    ),
    min_size=5,
    max_size=15,
)


@given(natural=lm_natural_docs, n_planted=st.integers(min_value=2, max_value=8))
@settings(**SETTINGS)
def test_bigram_lm_sharp_invariants(spark_h, natural, n_planted):
    """The two provable laws of llmops.lm (see its module docstring):

    1. An all-out-of-vocabulary probe scores ppl_proxy == V EXACTLY
       (every term is (0+1)/(0+V); sum(8V)/sum(8) divides exactly).
    2. A probe made of a template planted in the reference slice
       scores strictly below V — algebraically (4P+7V)/(4P+7) < V
       for any planted count P >= 1 and V > 1.

    Both probes are kept under 10 tokens so they FAIL the reference
    gate and can never pollute the model they are scored against.
    The keep verdict's integer cross-multiplication is also checked
    against the emitted ratio on every row."""
    from martian_moments_spark.llmops.lm import (
        BIGRAM_PPL_MAX,
        LM_GATE_MIN_DISTINCT,
        LM_GATE_MIN_TOKENS,
        bigram_lm_scores,
    )

    # planted reference docs: 10 unique fillers then the dedicated
    # template pair at END of doc — 'ta' only ever precedes 'tb', and
    # 'tb' is doc-final so it is never a bigram context.
    planted = [
        [f"p{j}_{i}" for i in range(10)] + ["ta", "tb"] for j in range(n_planted)
    ]
    probe_oov = [f"z{i}" for i in range(9)]  # 9 tokens: fails the gate
    probe_tpl = ["ta", "tb"] * 4  # 8 tokens: fails the gate
    corpus = natural + planted + [probe_oov, probe_tpl]
    oov_id, tpl_id = len(corpus) - 2, len(corpus) - 1
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    docs = spark_h.createDataFrame(rows, "doc_id LONG, text STRING")

    # python-side V: distinct tokens across gate-passing docs
    ref = [
        t
        for t in corpus
        if len(t) >= LM_GATE_MIN_TOKENS
        and len(set(t)) / len(t) >= LM_GATE_MIN_DISTINCT
    ]
    v = len({tok for t in ref for tok in t})
    assert v > 1  # planted docs alone guarantee this

    got = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    assert len(got) == len(corpus)

    oov = got[oov_id]
    assert oov["n_hit_bigrams"] == 0
    assert oov["score_num"] == len(probe_oov) - 1
    assert oov["ppl_proxy"] == float(v)  # exact, not approximate

    tpl = got[tpl_id]
    assert tpl["n_hit_bigrams"] >= 4  # the 4 'ta tb' terms hit
    assert tpl["ppl_proxy"] < float(v)
    assert tpl["ppl_proxy"] < oov["ppl_proxy"]

    for r in got.values():
        if r["n_bigrams"] == 0:
            assert r["keep"] is False and r["ppl_proxy"] is None
        else:
            assert r["keep"] == (
                r["score_den"] <= r["score_num"] * BIGRAM_PPL_MAX
            )


# ---------------------------------------------------------------- DSIR

dsir_natural_docs = st.lists(
    st.lists(
        st.sampled_from([f"w{i}" for i in range(12)]),
        min_size=12,
        max_size=30,
    ),
    min_size=5,
    max_size=15,
)


def _dsir_replay(corpus: list[list[str]]) -> dict[int, dict]:
    """Brute-force python replay of llmops.dsir.dsir_weights: md5
    bucketing, gate, both models, pooled sums, integer-cross-multiplied
    keep. The strongest property — every output column of every row
    must equal this, including the keep verdict computed WITHOUT the
    float ratio (the cross-multiplication is the law under test)."""
    import hashlib

    from martian_moments_spark.llmops.dsir import DSIR_BUCKETS
    from martian_moments_spark.llmops.lm import (
        LM_GATE_MIN_DISTINCT,
        LM_GATE_MIN_TOKENS,
    )

    HASH_P = 2_147_483_647

    def bucket(bg: str) -> int:
        return (int(hashlib.md5(bg.encode()).hexdigest()[:8], 16) % HASH_P) % DSIR_BUCKETS

    def gate(t: list[str]) -> bool:
        return (
            len(t) >= LM_GATE_MIN_TOKENS
            and len(set(t)) / len(t) >= LM_GATE_MIN_DISTINCT
        )

    feats = {
        i: [bucket(f"{t[k]} {t[k+1]}") for k in range(len(t) - 1)]
        for i, t in enumerate(corpus)
    }
    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    for i, t in enumerate(corpus):
        for b in feats[i]:
            cr[b] = cr.get(b, 0) + 1
            if gate(t):
                ct[b] = ct.get(b, 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())
    out = {}
    for i in range(len(corpus)):
        fs = feats[i]
        t_num = sum(ct.get(b, 0) + 1 for b in fs)
        r_num = sum(cr.get(b, 0) + 1 for b in fs)
        n = len(fs)
        out[i] = {
            "n_features": n,
            "t_num": t_num,
            "r_num": r_num,
            "weight": (
                (t_num * (tr + DSIR_BUCKETS)) / (r_num * (tt + DSIR_BUCKETS))
                if n
                else None
            ),
            "keep": (
                t_num * (tr + DSIR_BUCKETS) >= r_num * (tt + DSIR_BUCKETS)
                if n
                else False
            ),
        }
    return out


@given(natural=dsir_natural_docs, n_planted=st.integers(min_value=2, max_value=8))
@settings(**SETTINGS)
def test_dsir_weights_match_bruteforce_replay(spark_h, natural, n_planted):
    """dsir_weights vs the python replay on arbitrary corpora plus
    planted probes — every column of every row, including the keep
    verdict recomputed via the INTEGER cross-multiplication (never the
    float ratio: the module designed the verdict to not rely on
    division rounding, so the test must not either). Also pins the
    evidence-sum monotonicity law: doubling the planted target docs
    strictly increases the template probe's t_num."""
    from martian_moments_spark.llmops.dsir import dsir_weights

    planted = [
        [f"p{j}_{i}" for i in range(10)] + ["ta", "tb"] for j in range(n_planted)
    ]
    probe_tpl = ["ta", "tb"] * 4  # 8 tokens: fails the gate
    probe_one = ["solo"]          # featureless: no bigrams at all
    corpus = natural + planted + [probe_tpl, probe_one]
    tpl_id, one_id = len(corpus) - 2, len(corpus) - 1
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    docs = spark_h.createDataFrame(rows, "doc_id LONG, text STRING")

    got = {r["doc_id"]: r for r in dsir_weights(docs).collect()}
    exp = _dsir_replay(corpus)
    assert set(got) == set(exp)
    for i, e in exp.items():
        g = got[i]
        assert g["n_features"] == e["n_features"], i
        assert g["t_num"] == e["t_num"], i
        assert g["r_num"] == e["r_num"], i
        assert g["keep"] == e["keep"], i
        if e["weight"] is None:
            assert g["weight"] is None, i
        else:
            assert g["weight"] == e["weight"], i

    # sharp spot checks on the replay-verified rows
    one = got[one_id]
    assert one["n_features"] == 0 and one["t_num"] == 0 and one["r_num"] == 0
    assert one["weight"] is None and one["keep"] is False
    tpl = got[tpl_id]
    assert tpl["n_features"] == len(probe_tpl) - 1
    # 'ta tb' is doc-final in every gate-passing planted doc, so its
    # bucket carries target mass >= n_planted: each of the probe's 4
    # 'ta tb' features contributes ct+1 >= 2.
    assert tpl["t_num"] >= tpl["n_features"] + 4 * n_planted

    # monotonicity: doubling the planted target docs can only increase
    # the probe's evidence sum
    more = planted + [
        [f"q{j}_{i}" for i in range(10)] + ["ta", "tb"] for j in range(n_planted)
    ]
    corpus2 = natural + more + [probe_tpl, probe_one]
    tpl2_id = len(corpus2) - 2
    rows2 = [(i, " ".join(toks)) for i, toks in enumerate(corpus2)]
    got2 = {
        r["doc_id"]: r
        for r in dsir_weights(
            spark_h.createDataFrame(rows2, "doc_id LONG, text STRING")
        ).collect()
    }
    assert got2[tpl2_id]["t_num"] > tpl["t_num"]


# ------------------------------------------------------- shard manifest

shard_docs = st.lists(
    st.integers(min_value=0, max_value=40),  # tokens per doc
    min_size=1,
    max_size=60,
)


@given(tok_counts=shard_docs)
@settings(**SETTINGS)
def test_training_shard_manifest_accounting_closes(spark_h, tok_counts):
    """Brute-force replay of training_shard_manifest on arbitrary
    token-count corpora: the two-phase range-bucketed cumsum must
    equal the single-window oracle semantics exactly —

    * every document is in exactly one shard (doc counts close);
    * token mass closes (sum of shard n_tokens == corpus tokens);
    * shard ids are the dense prefix 0..ceil(total/budget)-1 of the
      occupied budget slots, and each shard's first_offset DIV budget
      == shard_id (the boundary convention);
    * the manifest equals a pandas replay of hash-ordered cumsum.
    """
    import hashlib

    from martian_moments_spark.plans.queries_curation import (
        SHARD_TOKEN_BUDGET,
        training_shard_manifest,
    )

    HASH_P = 2_147_483_647

    def h31(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % HASH_P

    rows = [
        (i, " ".join(f"t{j}" for j in range(n)))
        for i, n in enumerate(tok_counts)
    ]
    import os, tempfile

    with tempfile.TemporaryDirectory() as d:
        spark_h.createDataFrame(
            rows, "doc_id LONG, text STRING"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r["shard_id"]: r
            for r in training_shard_manifest(spark_h, d).collect()
        }

    # pandas replay of the oracle semantics
    order = sorted(
        ((h31(f"shard:{i}"), i, n) for i, n in enumerate(tok_counts)),
        key=lambda t: (t[0], t[1]),
    )
    off = 0
    exp: dict[int, dict] = {}
    for h, i, n in order:
        sid = off // SHARD_TOKEN_BUDGET
        e = exp.setdefault(
            sid,
            {"n_docs": 0, "n_tokens": 0, "first": off, "end": 0, "ck": 0},
        )
        e["n_docs"] += 1
        e["n_tokens"] += n
        e["end"] = max(e["end"], off + n)
        e["ck"] = (e["ck"] + h31(str(i))) % HASH_P
        off += n

    assert set(got) == set(exp)
    for sid, e in exp.items():
        g = got[sid]
        assert g["n_docs"] == e["n_docs"]
        assert g["n_tokens"] == e["n_tokens"]
        assert g["first_offset"] == e["first"]
        assert g["end_offset"] == e["end"]
        assert g["id_checksum"] == e["ck"]
    assert sum(g["n_docs"] for g in got.values()) == len(tok_counts)
    assert sum(g["n_tokens"] for g in got.values()) == sum(tok_counts)
    for sid, g in got.items():
        assert g["first_offset"] // SHARD_TOKEN_BUDGET == sid


# ------------------------------------------------------- classifier

@given(
    rows=st.lists(
        st.tuples(
            st.lists(st.integers(0, 5), min_size=4, max_size=4),  # x
            st.sampled_from([1, -1]),                             # y
        ),
        min_size=0,
        max_size=12,
    ),
    epochs=st.integers(1, 4),
)
@settings(max_examples=50, deadline=None)
def test_perceptron_replay_exact(rows, epochs):
    """train_perceptron (numpy int64) must equal a pure-Python integer
    fold on any sample in any order — the exactness law the DuckDB
    recursive-CTE oracle relies on (same updates, same final (w, b),
    including boundary samples where y*(w.x+b) == 0 triggering an
    update)."""
    import numpy as np

    from martian_moments_spark.llmops.classifier import train_perceptron

    X = [x for x, _ in rows]
    y = [lbl for _, lbl in rows]
    w_ref = [0, 0, 0, 0]
    b_ref = 0
    n_ref = 0
    for _ in range(epochs):
        for xi, yi in zip(X, y):
            s = sum(a * b for a, b in zip(w_ref, xi)) + b_ref
            if yi * s <= 0:
                w_ref = [a + yi * b for a, b in zip(w_ref, xi)]
                b_ref += yi
                n_ref += 1
    Xa = np.array(X, dtype=np.int64).reshape(len(X), 4)
    w, b, n = train_perceptron(Xa, np.array(y, dtype=np.int64), epochs)
    assert list(w[:4]) == w_ref and b == b_ref and n == n_ref


cls_gibberish_docs = st.lists(
    st.lists(
        # tokens outside the quality template's vocabulary (template
        # tokens are q0..q39; these are g<seed> strings)
        st.integers(0, 10_000).map(lambda i: f"g{i}"),
        min_size=2,
        max_size=8,
    ),
    min_size=2,
    max_size=6,
)


@given(gibberish=cls_gibberish_docs)
@settings(max_examples=25, deadline=None)
def test_perceptron_separates_planted_gibberish(gibberish):
    """Planted gibberish scores below quality documents on any seed:
    build a corpus whose quality class (+1) is a fixed 40-token
    template and whose junk class (-1) is hypothesis-random short
    docs; when the two classes touch DISJOINT hash buckets the data
    is linearly separable with margin, so the perceptron convergence
    theorem guarantees a finite-epoch model classifying every
    training doc — i.e. every gibberish doc scores <= 0 < every
    quality doc. (Colliding-bucket draws are assumed away; at 512
    buckets vs ~40 occupied the rejection rate is small.)"""
    import hashlib

    import numpy as np
    from hypothesis import assume

    from martian_moments_spark.llmops.classifier import (
        CLS_BUCKETS,
        train_perceptron,
    )

    HASH_P = 2_147_483_647

    def bucket(bg: str) -> int:
        return (
            int(hashlib.md5(bg.encode()).hexdigest()[:8], 16) % HASH_P
        ) % CLS_BUCKETS

    template = [f"q{i}" for i in range(40)]
    q_buckets = {
        bucket(f"{template[i]} {template[i+1]}")
        for i in range(len(template) - 1)
    }
    g_rows = []
    for toks in gibberish:
        bks = [bucket(f"{toks[i]} {toks[i+1]}") for i in range(len(toks) - 1)]
        assume(not q_buckets & set(bks))  # disjoint support => separable
        g_rows.append(bks)

    def dense(bks):
        x = np.zeros(CLS_BUCKETS, dtype=np.int64)
        for b in bks:
            x[b] += 1
        return x

    q_bks = [
        bucket(f"{template[i]} {template[i+1]}")
        for i in range(len(template) - 1)
    ]
    X = np.stack([dense(q_bks)] * 3 + [dense(b) for b in g_rows])
    y = np.array([1] * 3 + [-1] * len(g_rows), dtype=np.int64)
    w, b, _ = train_perceptron(X, y, epochs=256)
    scores = X @ w + b
    # converged: every training doc on its own side (strictly for +1,
    # <= 0 for -1 — the update rule fires on the boundary)
    assert all(s > 0 for s in scores[:3]), scores
    assert all(s <= 0 for s in scores[3:]), scores
    assert max(scores[3:]) < min(scores[:3])


small_units = st.lists(
    st.lists(st.integers(-2, 2), min_size=3, max_size=3), min_size=1, max_size=10
)


def _ref_cos(a, b):
    """The fixed-point cosine in plain Python: integer dot and squared
    norms, one division by the product of square roots; NaN on a
    zero-norm side."""
    import math

    na = sum(int(x) * int(x) for x in a)
    nb = sum(int(x) * int(x) for x in b)
    if na == 0 or nb == 0:
        return math.nan
    dot = sum(int(x) * int(y) for x, y in zip(a, b))
    return float(dot) / (math.sqrt(float(na)) * math.sqrt(float(nb)))


def _ref_topk(qu, cu, k, valid):
    """Per query row: the valid candidates ordered by (NaN last, cosine
    DESC, column), cut at ``k``; (row, col, cosine, rank) tuples. A
    zero-norm query keeps its valid candidates with NaN cosines, as
    ``ORDER BY cosine DESC NULLS LAST, id`` does in SQL."""
    import math

    out = []
    for i in range(len(qu)):
        order = []
        for j in range(len(cu)):
            cs = _ref_cos(qu[i], cu[j])
            if valid is None or valid[0][i] != valid[1][j]:
                order.append(((math.isnan(cs), 0.0 if math.isnan(cs) else -cs, j), j, cs))
        order.sort()
        kept = [(j, cs) for _, j, cs in order][:k]
        out += [(i, j, cs, rank) for rank, (j, cs) in enumerate(kept, start=1)]
    return out


def _ref_first(u, tau):
    return [
        next((i for i in range(j) if _ref_cos(u[i], u[j]) >= tau), -1)
        for j in range(len(u))
    ]


def _assert_topk(got_arrays, want):
    import math

    got = list(zip(*(a.tolist() for a in got_arrays)))
    assert len(got) == len(want)
    for (gi, gj, gc, gr), (wi, wj, wc, wr) in zip(got, want):
        assert (gi, gj, gr) == (wi, wj, wr)
        assert gc == wc or (math.isnan(gc) and math.isnan(wc))


@given(
    q=small_units,
    c=small_units,
    k=st.integers(0, 4),
    mask=st.sampled_from(["none", "self", "id", "label", "cand"]),
    labels=st.lists(st.integers(0, 2), min_size=10, max_size=10),
    tau=st.sampled_from([-1.0, 0.0, 0.5, 0.9, 1.0]),
)
@settings(max_examples=200, deadline=None)
def test_vector_primitives_match_bruteforce(q, c, k, mask, labels, tau):
    """The shared exact vector primitives of llmops.similarity against
    plain-Python references on small integer matrices: the cosine top-k
    (ties to the lower column, NaN cosines of all-zero vectors after
    every number, masked pairs never emitted, cut at k), the
    first earlier tau hit, and the nearest-centroid ranking with tied
    distances going to the lower id."""
    import numpy as np

    from martian_moments_spark.llmops.similarity import (
        _argmin_cells,
        _cosine_topk,
        _first_earlier_hit,
        _nearest_cells,
    )

    qu = np.array(q, dtype=np.int64)
    cu = qu if mask in ("self", "label") else np.array(c, dtype=np.int64)
    n, m = len(qu), len(cu)
    pos = np.arange(n)
    lab = np.array(labels[:n])
    ids = np.arange(m) * 2  # candidate ids ascend with the column
    valid = {
        "none": None,
        "self": (pos, pos),
        "label": (lab, lab),
        "id": (pos * 3, ids),  # some query ids collide with candidate ids
        "cand": (pos * 2 + 1, ids),  # odd query ids never collide
    }[mask]
    _assert_topk(_cosine_topk(qu, cu, k, valid), _ref_topk(qu, cu, k, valid))
    assert _first_earlier_hit(qu, tau).tolist() == _ref_first(qu, tau)

    # centroids: the candidate rows, some duplicated (tied distances),
    # under ids that do not ascend with the row
    C = np.concatenate([cu, cu[:2]])
    cell_ids = np.random.default_rng(len(C)).permutation(len(C)) * 5
    for t in (1, 2, len(C)):
        near = [
            [
                cid
                for _, cid in sorted(
                    (int(((qu[i] - C[r]) ** 2).sum()), int(cell_ids[r]))
                    for r in range(len(C))
                )[:t]
            ]
            for i in range(n)
        ]
        assert _nearest_cells(qu, C, cell_ids, t).tolist() == near
    o = np.argsort(cell_ids)
    assert _argmin_cells(qu, C[o], cell_ids[o]).tolist() == [r[0] for r in near]


def test_vector_primitives_across_chunk_boundaries():
    """600 rows span two 512-row chunks: the top-k and the first
    earlier hit must still equal the plain-Python references (a later
    chunk never overwrites an earlier hit; row offsets carry over)."""
    import numpy as np

    from martian_moments_spark.llmops.similarity import _cosine_topk, _first_earlier_hit

    u = np.random.default_rng(5).integers(-2, 3, size=(600, 3))
    pos = np.arange(len(u))
    _assert_topk(_cosine_topk(u, u, 2, (pos, pos)), _ref_topk(u, u, 2, (pos, pos)))
    assert _first_earlier_hit(u, 0.9).tolist() == _ref_first(u, 0.9)
