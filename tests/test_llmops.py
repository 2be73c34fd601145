"""Property tests for the LLM-data operators: LSH candidate recall,
simhash locality, multimodal batch plumbing determinism."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from martian_moments_spark.llmops.dedup import hamming_distance, simhash
from martian_moments_spark.llmops.multimodal import (
    FEATURE_SCHEMA,
    attach_fake_payload,
    extract_features,
    frame_sample,
)

SF = "/root/testdata/sf0.001"


def _near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base.replace("today", "tomorrow")),  # near-dup of 0
        (2, base),  # exact dup of 0
        (3, "completely different content about spark shuffle partitions and joins"),
        (4, "unrelated words forming another distinct document entirely here now"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_lsh_candidates_cover_true_near_dups(spark):
    """Docs sharing ≥7/8 min-hashes must collide in at least one of the
    4 two-row bands (pigeonhole) — exact dup pairs are always candidates
    and the near-dup pair should be at this shingle overlap."""
    from martian_moments_spark.llmops.dedup import minhash_signature, lsh_bands

    docs = _near_dup_docs(spark)
    sig = docs.select("doc_id", *minhash_signature("text"))
    rows = {r["doc_id"]: [r[f"mh_{i}"] for i in range(8)] for r in sig.collect()}
    assert rows[0] == rows[2], "exact dup must have identical signature"

    banded = sig.select("doc_id", *lsh_bands([f"mh_{i}" for i in range(8)]))
    b = {r["doc_id"]: [r[f"band_{i}"] for i in range(4)] for r in banded.collect()}
    assert any(x == y for x, y in zip(b[0], b[2]))
    # near-dup pair (0,1): most shingles shared → expect ≥1 shared band
    shared = sum(x == y for x, y in zip(rows[0], rows[1]))
    if shared >= 2:
        assert any(x == y for x, y in zip(b[0], b[1]))


def test_simhash_locality(spark):
    """Exact dups: hamming 0. Near-dups: small hamming. Unrelated:
    larger hamming than the near-dup pair."""
    docs = _near_dup_docs(spark).select("doc_id", simhash("text").alias("sh"))
    sh = {r["doc_id"]: r["sh"] for r in docs.collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(sh[0], sh[2]) == 0
    assert ham(sh[0], sh[1]) < ham(sh[0], sh[3])


def test_hamming_distance_column(spark):
    df = spark.createDataFrame([(0b1010, 0b0110)], "a LONG, b LONG")
    assert df.select(hamming_distance(F.col("a"), F.col("b"))).first()[0] == 2


def test_multimodal_feature_extract_deterministic(spark):
    """mapInPandas features must be schema-stable, partition-count-
    independent, and match a driver-side recomputation (md5)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(50)
    feats = extract_features(attach_fake_payload(docs))
    assert feats.schema == FEATURE_SCHEMA

    rows = {r["doc_id"]: r for r in feats.collect()}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    for doc_id, r in rows.items():
        payload = src[doc_id].encode("utf-8")
        assert r["byte_length"] == len(payload)
        assert r["checksum_md5"] == int(hashlib.md5(payload).hexdigest()[:8], 16) % (2**31 - 1)

    repart = extract_features(attach_fake_payload(docs.repartition(7)))
    assert {tuple(r) for r in repart.collect()} == {tuple(r) for r in feats.collect()}


def test_frame_sample_only_videos(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(30)
    frames = frame_sample(attach_fake_payload(docs))
    got = frames.select("doc_id").distinct().collect()
    assert all(r["doc_id"] % 3 == 2 for r in got)
    one = frames.filter(F.col("doc_id") == 2).select("frame_index").collect()
    # doc_id=2 → n_frames=3 → sampled indices 0 (step 6 over 0..2)
    assert sorted(r["frame_index"] for r in one) == [0]


def test_ivf_pandas_matmul_equals_jvm_formulation(spark):
    """The numpy IVF search kernel must be BIT-identical to the pure-JVM
    fixed-point formulation over the same cells — same integers, same
    doubles."""
    from martian_moments_spark.llmops.similarity import (
        topk_cosine,
        topk_units_cells_pandas,
        with_units_and_norm,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    jvm = {
        (r["id_a"], r["rank"]): (r["id_b"], r["cosine"])
        for r in topk_cosine(emb, k=5, cell_col="label").collect()
    }
    assigned = with_units_and_norm(emb).select(
        "vec_id", "units", F.col("label").alias("cell")
    )
    np_ = {
        (r["id_a"], r["rank"]): (r["id_b"], r["cosine"])
        for r in topk_units_cells_pandas(assigned, k=5).collect()
    }
    assert jvm == np_


def test_png_codec_round_trip_all_filters():
    """The pure-zlib PNG codec must be the identity on pixels through
    every scanline filter type (the encoder cycles row % 5, so any
    height >= 5 exercises all of None/Sub/Up/Average/Paeth), reject
    corrupted chunks (CRC), and reject truncated streams."""
    import numpy as np
    import pytest

    from martian_moments_spark.llmops.multimodal import (
        decode_image,
        decode_png,
        encode_png_bytes,
    )

    rng = np.random.RandomState(42)
    for h, w in [(8, 8), (5, 3), (1, 1), (16, 16), (7, 1)]:
        px = rng.randint(0, 256, (h, w)).astype(np.uint8)
        b = encode_png_bytes(px, w, h)
        w2, h2, px2 = decode_png(b)
        assert (w2, h2) == (w, h)
        assert np.array_equal(px, px2)

    # decode_image routes PNG payloads through the real codec now
    px = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    b = encode_png_bytes(px, 8, 8)
    w2, h2, px2 = decode_image(b)
    assert np.array_equal(px, px2)

    # CRC corruption must fail loudly, not yield wrong pixels
    bad = bytearray(b)
    bad[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    # truncated scanline stream must fail loudly too
    import struct
    import zlib

    from martian_moments_spark.llmops.multimodal import _PNG_SIG, _png_chunk

    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)
    short = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="length"):
        decode_png(short)
    # JPEG routes to the REAL baseline codec since r11: a truncated
    # stream is a data error, and unknown signatures are too (the
    # NotImplementedError capability hook is closed)
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg")
    with pytest.raises(ValueError, match="unrecognized image signature"):
        decode_image(b"GIF89a not supported")


def test_jpeg_codec_constant_blocks_exact():
    """The baseline-DCT JPEG round trip must be BIT-EXACT on the
    constant-block family the oracle gate rides on: a constant 8x8
    block has a single DC coefficient 8*(v-128) and the fixture quant
    table pins the DC step to 8, so any defect in marker framing,
    canonical huffman reconstruction, bit order, the DC predictor,
    byte (un)stuffing, EXTEND, or the IDCT normalization shifts whole
    blocks. Exercises the full printable-ASCII DC range, including
    multi-block DC deltas of both signs."""
    import numpy as np

    from martian_moments_spark.llmops.multimodal import (
        JPEG_H,
        JPEG_W,
        decode_image,
        decode_jpeg,
        encode_jpeg_bytes,
    )

    for chars in [b"HelloJPG", b"~~!!~~!!", b" zAzAzA ", bytes(range(32, 40))]:
        blocks = np.frombuffer(chars, dtype=np.uint8).reshape(2, 4)
        px = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        b = encode_jpeg_bytes(px, JPEG_W, JPEG_H)
        w, h, out = decode_jpeg(b)
        assert (w, h) == (JPEG_W, JPEG_H)
        assert np.array_equal(out, px), chars
    # decode_image routes JPEG payloads through the real codec
    w, h, out = decode_image(b)
    assert np.array_equal(out, px)


def test_jpeg_codec_general_ac_path_and_malformed():
    """The general (lossy) path must drive the full AC machinery —
    run/size symbols, ZRL, EOB, negative amplitudes, byte stuffing —
    and stay inside the quantization error bound: with an all-ones
    quant table the only loss is coefficient rounding (<=0.5 each),
    whose pixel-domain footprint is bounded by 0.5 * sum|basis| < 8.
    A wrong huffman table, swapped run/size nibbles, or mis-ordered
    zigzag produces errors in the hundreds, not <= 8. Malformed and
    unsupported streams must fail loudly."""
    import numpy as np
    import pytest

    from martian_moments_spark.llmops.multimodal import (
        decode_jpeg,
        encode_jpeg_bytes,
    )

    rng = np.random.RandomState(7)
    for h, w in [(8, 8), (16, 24), (24, 40)]:
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        b = encode_jpeg_bytes(img, w, h, qtable=[1] * 64)
        w2, h2, out = decode_jpeg(b)
        assert (w2, h2) == (w, h)
        err = np.abs(out.astype(int) - img.astype(int)).max()
        assert err <= 8, err
    # byte stuffing must appear in at least one entropy stream above
    # (random data at q=1 emits 0xFF bytes with near-certainty) and
    # the decoder just proved it unstuffs them
    assert b"\xff\x00" in b

    # the standard quant table decodes too (visibly lossy, structurally
    # sound: a broken decode path would not stay within ~4x the JND)
    img = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg_bytes(img, 16, 16))[2]
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 40

    good = encode_jpeg_bytes(img, 16, 16)
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"P5 not jpeg")
    with pytest.raises(ValueError):
        decode_jpeg(good[:40])  # truncated mid-segment
    with pytest.raises(ValueError, match="EOI"):
        decode_jpeg(good[:-2])  # entropy stream without EOI
    # corrupting a huffman BITS count must not decode silently
    bad = bytearray(good)
    dht = good.index(b"\xff\xc4")
    bad[dht + 6] ^= 0x05
    with pytest.raises(ValueError):
        decode_jpeg(bytes(bad))
    # progressive (SOF2) must be rejected, not mis-decoded
    bad = bytearray(good)
    sof = good.index(b"\xff\xc0")
    bad[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(bad))


def test_chunked_topk_never_emits_self_on_zero_norm_input(spark):
    """ADVICE r09 regression: a zero-norm vector makes NaN cosine
    columns, and the chunked kernels once emitted self-pairs on that
    degenerate input. Excluded pairs (self here) rank after every
    valid pair, NaN included, so self must stay out — matching the
    DuckDB oracle's a.vec_id <> b.vec_id — and clean-input results
    stay untouched (covered by the bit-identity test above)."""
    from martian_moments_spark.llmops.similarity import (
        topk_units_cells_pandas,
        with_units_and_norm,
    )

    # 4 vectors in one cell, one of them all-zero (NaN cosine vs all)
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),
        (3, [0.0, 0.0, 0.0], 0),  # zero-norm → NaN cosine columns
        (4, [0.0, 1.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    assigned = with_units_and_norm(emb).select(
        "vec_id", "units", F.col("label").alias("cell")
    )
    got = topk_units_cells_pandas(assigned, k=3).collect()
    assert got, "kernel emitted nothing"
    assert all(r["id_a"] != r["id_b"] for r in got), [
        (r["id_a"], r["id_b"]) for r in got if r["id_a"] == r["id_b"]
    ]


def test_zero_norm_query_keeps_its_hard_negatives(spark):
    """A zero-norm query has only NaN (SQL NULL) cosines and its
    same-label pairs are excluded; the excluded pairs must rank after
    the NaN ones, so the query still gets its valid hard negatives:
    exactly the rows of the DuckDB replay (ORDER BY cosine DESC NULLS
    LAST, neg_id), two of them with NULL cosine."""
    import math

    import duckdb

    from martian_moments_spark.llmops.similarity import hard_negatives_cells_pandas

    # one cell: a zero vector and three others with label 0, two with label 1
    rows = [
        (1, 0, [0, 0, 0]),
        (2, 0, [5, 1, 0]),
        (3, 0, [4, 2, 1]),
        (4, 0, [1, 5, 2]),
        (5, 1, [2, 1, 5]),
        (6, 1, [0, 3, 4]),
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id BIGINT, label INT, units ARRAY<BIGINT>"
    ).withColumn("cell", F.lit(0))
    got = sorted(
        (r["query_id"], r["neg_id"], r["rank"],
         None if r["cosine"] is None or math.isnan(r["cosine"]) else round(r["cosine"], 12))
        for r in hard_negatives_cells_pandas(assigned, k=3).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE v (vec_id BIGINT, label INT, units BIGINT[])")
    con.executemany("INSERT INTO v VALUES (?, ?, ?)", rows)
    want = sorted(
        (q, n, rank, None if c is None else round(c, 12))
        for q, n, rank, c in con.execute(
            """
            WITH pairs AS (
                SELECT a.vec_id AS q, b.vec_id AS n,
                       CAST(list_sum(list_transform(list_zip(a.units, b.units),
                            z -> z[1] * z[2])) AS DOUBLE) AS dot,
                       list_sum(list_transform(a.units, x -> x * x)) AS na,
                       list_sum(list_transform(b.units, x -> x * x)) AS nb
                FROM v a JOIN v b ON a.label <> b.label
            ), scored AS (
                SELECT q, n, CASE WHEN na = 0 OR nb = 0 THEN NULL
                                  ELSE dot / (sqrt(na) * sqrt(nb)) END AS cosine
                FROM pairs
            )
            SELECT q, n, rank, cosine FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY q ORDER BY cosine DESC NULLS LAST, n) AS rank
                FROM scored
            ) WHERE rank <= 3
            """
        ).fetchall()
    )
    assert [r for r in want if r[0] == 1] == [(1, 5, 1, None), (1, 6, 2, None)]
    assert got == want


def test_blocked_topk_pins_rows_on_zero_norm_input(spark):
    """topk_cosine_blocked on input with a zero-norm vector (NaN
    cosines, which the final window ranks differently from numpy): each
    block emits its top k+1 in numpy order minus self, so the answer is
    exactly these rows, pinned from the per-row lexsort form."""
    from martian_moments_spark.llmops.similarity import topk_cosine_blocked

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero-norm
        (4, [0.0, 1.0, 0.0]),
        (5, [0.5, 0.5, 0.0]),
        (6, [0.0, 0.0, 1.0]),
        (7, [0.5, 0.5, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = sorted(tuple(r) for r in topk_cosine_blocked(emb, k=2, n_blocks=2).collect())
    assert got == [
        (1, 2, 0.993883734673619, 1),
        (1, 5, 0.7071067811865476, 2),
        (2, 1, 0.993883734673619, 1),
        (2, 5, 0.7808688094430304, 2),
        (3, 1, None, 1),
        (3, 2, None, 2),
        (4, 5, 0.7071067811865476, 1),
        (4, 7, 0.7071067811865476, 2),
        (5, 2, 0.7808688094430304, 2),
        (5, 7, 1.0000000000000002, 1),
        (6, 1, 0.0, 1),
        (6, 2, 0.0, 2),
        (7, 2, 0.7808688094430304, 2),
        (7, 5, 1.0000000000000002, 1),
    ]


def test_tokenizer_edge_cases(spark):
    """Empty/whitespace-only/multi-space text — the malformed-input
    parity cases (reference tests malformed JSON / missing keys)."""
    from martian_moments_spark.llmops.textops import quality_metrics, tokens

    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "a  b\tc"), (3, " lead trail ")], "doc_id LONG, text STRING"
    )
    got = {r["doc_id"]: r["n"] for r in df.select("doc_id", F.size(tokens()).alias("n")).collect()}
    assert got == {0: 0, 1: 0, 2: 3, 3: 2}
    m = quality_metrics()
    rows = {r["doc_id"]: r for r in df.select("doc_id", *[v.alias(k) for k, v in m.items()]).collect()}
    assert rows[0]["avg_token_len"] == 0.0 and rows[0]["stopword_ratio"] == 0.0  # no div-by-zero
    assert rows[2]["avg_token_len"] == 1.0


def test_minhash_null_for_short_docs(spark):
    """Documents with < n tokens have no shingles → NULL signature
    (not a crash, not a bogus hash)."""
    from martian_moments_spark.llmops.dedup import minhash_signature

    df = spark.createDataFrame([(0, "single"), (1, "two tokens")], "doc_id LONG, text STRING")
    rows = {r["doc_id"]: r["mh_0"] for r in df.select("doc_id", *minhash_signature("text")).collect()}
    assert rows[0] is None and rows[1] is not None


def test_rolling_fingerprint_order_sensitive(spark):
    from martian_moments_spark.llmops.textops import rolling_fingerprint

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha"), (2, "alpha beta gamma")],
        "doc_id LONG, text STRING",
    )
    fp = {r["doc_id"]: r["f"] for r in df.select("doc_id", rolling_fingerprint().alias("f")).collect()}
    assert fp[0] == fp[2] != fp[1]


def test_connected_components_multi_hop_closure(spark):
    from martian_moments_spark.llmops.dedup import connected_components

    # chain 1-2-3-4 (diameter 3, needs multiple propagation rounds),
    # pair 10-11, isolated 20
    vertices = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 20)], "doc_id BIGINT"
    )
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 4), (10, 11)], "id_a BIGINT, id_b BIGINT"
    )
    got = {
        r.doc_id: r.component_id
        for r in connected_components(vertices, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_line_level_dedup_fully_deduped_doc_is_null(spark, tmp_path):
    """An exact-duplicate document loses every sentence: cleaned_text
    must be NULL (string_agg-over-zero-rows semantics), not ''."""
    import duckdb

    from martian_moments_spark.plans import load_all

    REGISTRY = load_all()
    d = str(tmp_path)
    rows = [
        (0, "alpha beta. gamma delta. unique zero"),
        (1, "alpha beta. gamma delta. unique zero"),  # exact dup of doc 0
        (2, "fresh one. gamma delta. fresh two"),
    ]
    spark.createDataFrame(rows, "doc_id BIGINT, text STRING").coalesce(1).write.mode(
        "overwrite"
    ).parquet(d + "/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_kept"], r["n_dropped"])
        for r in REGISTRY["line_level_dedup"].fn(spark, d).collect()
    }
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(REGISTRY["line_level_dedup"].oracle).fetchall()
    }
    assert got == want
    assert got[1] == (None, 0, 3)


# ---------------------------------------------------------------- BPE


def _ref_bpe(word_counts, num_merges):
    """Independent pure-Python BPE (Sennrich 2016): same spec, no
    shared code with llmops/bpe.py."""
    syms = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(1, num_merges + 1):
        pc = {}
        for w, n in word_counts.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + n
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append({"rank": rank, "left": l, "right": r, "merged": l + r, "pair_count": c})
        for w, s in syms.items():
            out = []
            for tok in s:
                if out and out[-1] == l and tok == r:
                    out[-1] = l + r
                else:
                    out.append(tok)
            syms[w] = out
    return merges


def test_bpe_matches_independent_reference(spark):
    import re
    from collections import Counter

    from martian_moments_spark.catalog import load
    from martian_moments_spark.llmops.bpe import learn_bpe_merges

    docs = load(spark, SF, "documents").select("text")
    got = learn_bpe_merges(spark, docs, num_merges=10, top_v=100)

    wc = Counter(
        w for r in docs.collect() for w in re.split(r"\s+", r["text"]) if w != ""
    )
    top = dict(sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:100])
    ref = _ref_bpe(top, 10)
    assert got == ref
    assert len(got) == 10


def test_bpe_greedy_overlap_and_early_stop(spark):
    from martian_moments_spark.llmops.bpe import learn_bpe_merges

    # 'aaaa' x3: pair (a,a) counts 3*3=9; greedy left-to-right turns
    # aaaa into [aa, aa] (non-overlapping), NOT [aa, aa, aa]-style
    # double counting on the next round.
    docs = spark.createDataFrame([("aaaa aaaa aaaa",)], "text STRING")
    got = learn_bpe_merges(spark, docs, num_merges=5, top_v=10)
    assert got[0] == {"rank": 1, "left": "a", "right": "a", "merged": "aa", "pair_count": 9}
    assert got[1] == {"rank": 2, "left": "aa", "right": "aa", "merged": "aaaa", "pair_count": 3}
    # after 'aaaa' is one token there are no pairs left -> early stop
    assert len(got) == 2


def test_bpe_encode_matches_training_segmentation_and_is_partition_invariant(spark):
    from martian_moments_spark.llmops.bpe import (
        apply_merges_to_word,
        bpe_encode,
        learn_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(0, "aaaa aa b"), (1, "aaaa aaaa"), (2, "ab aa")],
        "doc_id LONG, text STRING",
    )
    merges = learn_bpe_merges(spark, docs, num_merges=3, top_v=10)
    # rank 1 must be (a,a): count 2*2(aaaa)+... dominated by 'a' pairs
    assert (merges[0]["left"], merges[0]["right"]) == ("a", "a")

    got = {
        r["doc_id"]: (r["n_subwords"], r["subword_seq"])
        for r in bpe_encode(docs, merges).collect()
    }
    # independent expectation: replay per word
    import re
    expect = {}
    for doc_id, text in [(0, "aaaa aa b"), (1, "aaaa aaaa"), (2, "ab aa")]:
        pieces = []
        for w in re.split(r"\s+", text):
            if w:
                pieces.extend(apply_merges_to_word(w, merges))
        expect[doc_id] = (len(pieces), ",".join(pieces))
    assert got == expect

    # partitioning invariance: 1 vs 8 partitions, identical rows
    one = sorted(map(tuple, bpe_encode(docs.coalesce(1), merges).collect()))
    many = sorted(map(tuple, bpe_encode(docs.repartition(8), merges).collect()))
    assert one == many


def test_bpe_batched_equals_sequential(spark):
    """batch_limit > 1 must be bit-identical to the textbook
    one-merge-per-round loop on the real corpus (the _safe_batch
    exactness argument, checked end-to-end)."""
    from martian_moments_spark.catalog import load
    from martian_moments_spark.llmops.bpe import learn_bpe_merges

    docs = load(spark, SF, "documents").select("text")
    seq = learn_bpe_merges(spark, docs, num_merges=12, top_v=200, batch_limit=1)
    bat = learn_bpe_merges(spark, docs, num_merges=12, top_v=200, batch_limit=16)
    assert bat == seq
    assert len(bat) == 12


def test_bpe_safe_batch_selection_rules():
    """_safe_batch: conflict cutoff, strict-count truncation, full
    window conservatism, guaranteed progress."""
    from martian_moments_spark.llmops.bpe import _safe_batch

    def row(l, r, c):
        return {"left": l, "right": r, "pair_count": c}

    # (b,c) shares 'b' with (a,b) -> cutoff at count 9; (c,d) ties the
    # cutoff so only the strictly-greater (a,b) survives
    rows = [row("a", "b", 10), row("b", "c", 9), row("c", "d", 9)]
    assert _safe_batch(rows, window=65, batch_limit=16) == [row("a", "b", 10)]

    # disjoint pairs above the first conflict all batch
    rows = [row("a", "b", 10), row("c", "d", 8), row("ab", "cd", 7), row("b", "x", 7)]
    assert _safe_batch(rows, window=65, batch_limit=16) == [
        row("a", "b", 10), row("c", "d", 8)
    ]  # (ab,cd) conflicts via merged tokens ab/cd -> cutoff 7

    # full window, conflict-free: last count is the conservative cutoff
    rows = [row("a", "b", 10), row("c", "d", 5)]
    assert _safe_batch(rows, window=2, batch_limit=16) == [row("a", "b", 10)]
    # ...but a non-full window means every pair was seen: keep all
    assert _safe_batch(rows, window=9, batch_limit=16) == rows

    # top row always survives even when the runner-up ties and conflicts
    rows = [row("a", "b", 7), row("b", "c", 7)]
    assert _safe_batch(rows, window=9, batch_limit=16) == [row("a", "b", 7)]


def test_topk_cosine_brute_force_requires_opt_in(spark):
    """The O(n^2) arm must be loud: cell_col=None raises without an
    explicit allow_full_scan=True."""
    import pytest as _pytest

    from martian_moments_spark.llmops.similarity import topk_cosine

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with _pytest.raises(ValueError, match="allow_full_scan"):
        topk_cosine(emb, k=1)
    got = topk_cosine(emb, k=1, allow_full_scan=True).collect()
    assert len(got) == 2


def test_srp_pandas_bands_match_jvm_formulation(spark):
    """The Arrow-vectorized signature path must be value-identical to
    the per-band JVM higher-order-function formulation (which is also
    what the DuckDB oracle renders)."""
    from pyspark.sql import functions as F

    from martian_moments_spark.catalog import load
    from martian_moments_spark.llmops.similarity import (
        SRP_BAND_BITS,
        SRP_BITS,
        srp_band_col,
        srp_bands_pandas,
        with_units_and_norm,
    )

    base = with_units_and_norm(
        load(spark, SF, "embeddings").select("vec_id", "embedding")
    ).select("vec_id", "units", "norm2")
    jvm = {
        (r["vec_id"], b): r[f"b{b}"]
        for r in base.select(
            "vec_id",
            *[
                srp_band_col(F.col("units"), b).alias(f"b{b}")
                for b in range(SRP_BITS // SRP_BAND_BITS)
            ],
        ).collect()
        for b in range(SRP_BITS // SRP_BAND_BITS)
    }
    pd_rows = srp_bands_pandas(base).select("vec_id", "band_idx", "band_val").collect()
    got = {(r["vec_id"], r["band_idx"]): r["band_val"] for r in pd_rows}
    assert got == jvm
    assert len(got) == len(jvm)


def test_quality_metrics_packed_matches_unpacked(spark):
    """The single-tokenization struct form must be value-identical to
    selecting the individual quality_metrics expressions."""
    from martian_moments_spark.catalog import load
    from martian_moments_spark.llmops.textops import (
        quality_metrics,
        quality_metrics_packed,
    )

    docs = load(spark, SF, "documents").select("doc_id", "text")
    m = quality_metrics("text")
    a = docs.select("doc_id", *[v.alias(k) for k, v in m.items()]).orderBy("doc_id").collect()
    b = (
        docs.select("doc_id", quality_metrics_packed("text").alias("__q"))
        .select("doc_id", "__q.*")
        .orderBy("doc_id")
        .collect()
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_cosine_verify_pandas_matches_jvm_fold(spark):
    """The Arrow verify path must equal cosine_fixed bit-for-bit (the
    oracle renders the JVM formulation)."""
    from pyspark.sql import functions as F

    from martian_moments_spark.catalog import load
    from martian_moments_spark.llmops.similarity import (
        cosine_fixed,
        cosine_verify_pandas,
        with_units_and_norm,
    )

    base = with_units_and_norm(
        load(spark, SF, "embeddings").select("vec_id", "embedding")
    ).select("vec_id", "units", "norm2")
    a = base.selectExpr("vec_id AS id_a", "units AS units_a", "norm2 AS norm2_a")
    b = base.selectExpr("vec_id AS id_b", "units AS units_b", "norm2 AS norm2_b")
    cand = a.join(b, F.col("id_a") + 1 == F.col("id_b"))  # consecutive-id pairs
    jvm = {
        (r["id_a"], r["id_b"]): (r["c"], r["c"] >= 0.30)
        for r in cand.select(
            "id_a", "id_b",
            cosine_fixed(
                F.col("units_a"), F.col("units_b"), F.col("norm2_a"), F.col("norm2_b")
            ).alias("c"),
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): (r["cosine"], r["is_near_dup"])
        for r in cosine_verify_pandas(cand, tau=0.30).collect()
    }
    assert got == jvm and len(got) > 0


def test_srp_banding_catches_planted_near_duplicates(spark):
    """The banding's design point, pinned with ground truth: planted
    near-identical vectors (tiny perturbations, cosine >= 0.95) must
    collide in >= 1 band for >= 80% of planted pairs, while the
    random-pair candidate rate stays under 5%."""
    import random

    from martian_moments_spark.llmops.similarity import (
        srp_bands_pandas,
        with_units_and_norm,
    )

    rng = random.Random(7)
    rows = []
    n_planted = 60
    for i in range(n_planted):
        v = [rng.gauss(0, 1) for _ in range(64)]
        w = [x + rng.gauss(0, 0.08) for x in v]  # cosine ~ 0.97
        rows.append((2 * i, v))
        rows.append((2 * i + 1, w))
    for i in range(300):  # random background
        rows.append((10_000 + i, [rng.gauss(0, 1) for _ in range(64)]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    base = with_units_and_norm(df).select("vec_id", "units", "norm2")
    bands = {
        (r["vec_id"], r["band_idx"]): r["band_val"]
        for r in srp_bands_pandas(base).select(
            "vec_id", "band_idx", "band_val"
        ).collect()
    }
    n_bands = max(b for _, b in bands) + 1

    def collide(a, b):
        return any(bands[(a, i)] == bands[(b, i)] for i in range(n_bands))

    hit = sum(1 for i in range(n_planted) if collide(2 * i, 2 * i + 1))
    assert hit / n_planted >= 0.8, f"planted recall {hit}/{n_planted}"

    import itertools

    rand_ids = [10_000 + i for i in range(300)]
    rand_pairs = list(itertools.combinations(rand_ids, 2))
    rand_hits = sum(1 for a, b in rand_pairs if collide(a, b))
    assert rand_hits / len(rand_pairs) < 0.05, f"random rate {rand_hits}/{len(rand_pairs)}"


def test_neardup_null_cells_never_match(spark):
    """NULL cell labels must behave like join semantics: two identical
    NULL-labelled vectors are both kept (NULL matches nothing), never
    pooled into a pseudo-cell."""
    from martian_moments_spark.llmops.similarity import neardup_min_earlier_pandas

    v = [1.0] * 64
    df = spark.createDataFrame(
        [(0, v, None), (1, v, None), (2, v, 7), (3, v, 7)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    got = {r["vec_id"]: r["dup_of"] for r in neardup_min_earlier_pandas(df, tau=0.9).collect()}
    assert got == {0: None, 1: None, 2: None, 3: 2}


def test_bpe_safe_batch_self_pair_closes_batch():
    """Regression (hypothesis counterexample {'ca':1,'bbb':1}): a
    self-pair's own merge spawns pairs that can outrank later batch
    members, so it must be the batch's last member."""
    from martian_moments_spark.llmops.bpe import _safe_batch

    rows = [
        {"left": "b", "right": "b", "pair_count": 2},
        {"left": "c", "right": "a", "pair_count": 1},
    ]
    assert _safe_batch(rows, window=9, batch_limit=4) == [rows[0]]
    # members BEFORE the self-pair survive alongside it
    rows = [
        {"left": "x", "right": "y", "pair_count": 5},
        {"left": "b", "right": "b", "pair_count": 3},
        {"left": "c", "right": "a", "pair_count": 2},
    ]
    assert _safe_batch(rows, window=13, batch_limit=4) == rows[:2]


def test_gram_f64_matches_int64_matmul_and_guards_overflow():
    """_gram_f64's BLAS path must return bit-identical integers to the
    int64 matmul inside its proven bound (4*dim*max|unit|^2 < 2^53),
    and fall back to the exact int64 path beyond it."""
    import numpy as np

    from martian_moments_spark.llmops.similarity import _gram_f64

    rng = np.random.default_rng(7)
    A = rng.integers(-1_000_000, 1_000_001, size=(37, 64), dtype=np.int64)
    B = rng.integers(-1_000_000, 1_000_001, size=(23, 64), dtype=np.int64)
    assert np.array_equal(_gram_f64(A, B), (A @ B.T).astype(np.float64))
    assert np.array_equal(_gram_f64(A), (A @ A.T).astype(np.float64))
    # magnitudes past the float64-exactness bound take the int64 path
    # (values would diverge otherwise); the result stays the exact one
    big = np.full((3, 64), 1 << 30, dtype=np.int64)
    assert np.array_equal(_gram_f64(big[:, :2], big[:, :2]),
                          (big[:, :2] @ big[:, :2].T).astype(np.float64))


def test_kmeans_units_corpus_scales_cell_count(spark):
    """kmeans_units_corpus floors at K_CELLS below ADAPT_CELL_TARGET *
    K_CELLS vectors (the oracle-parity pin at gate sizes) and grows
    the cell count linearly past it, keeping cells ~target-sized."""
    from pyspark.sql import functions as F

    from martian_moments_spark.llmops.similarity import K_CELLS
    from martian_moments_spark.plans.queries_llm import (
        ADAPT_CELL_TARGET,
        kmeans_units_corpus,
    )

    def fake_embeddings(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: ((F.col("id") * 37 + i * 11) % 97 / 97.0) - 0.5,
            ).alias("embedding"),
        )

    small, _ = kmeans_units_corpus(fake_embeddings(200))
    n_small = small.select("cell").distinct().count()
    assert n_small <= K_CELLS

    n = ADAPT_CELL_TARGET * 12
    big, cents = kmeans_units_corpus(fake_embeddings(n))
    assert len(cents) <= 12
    per = big.groupBy("cell").count().collect()
    # every trained (non-empty) cell is bounded well under the corpus:
    # the quantizer spread the data instead of one quadratic blob
    assert len(per) >= 4
    assert max(r["count"] for r in per) < n


def test_decode_pgm_roundtrip_and_malformed():
    """The pure-numpy P5 parser is a real decoder: arbitrary dims and
    header whitespace round-trip; malformed payloads fail loudly."""
    import numpy as np
    import pytest

    from martian_moments_spark.llmops.multimodal import decode_image, decode_pgm

    rng = np.random.default_rng(7)
    for w, h, ws in [(1, 1, b" "), (5, 3, b"\n"), (16, 2, b"\t"), (8, 8, b"\r\n")]:
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        payload = b"P5" + ws + str(w).encode() + ws + str(h).encode() + ws + b"255\n" + px.tobytes()
        gw, gh, gmax, gpx = decode_pgm(payload)
        assert (gw, gh, gmax) == (w, h, 255)
        assert np.array_equal(gpx, px)
        # the codec dispatch routes P5 to the real parser
        assert np.array_equal(decode_image(payload)[3], px)

    with pytest.raises(ValueError, match="not a binary PGM"):
        decode_pgm(b"P6\n1 1\n255\nxxx")  # PPM color: not supported
    with pytest.raises(ValueError, match="shorter than"):
        decode_pgm(b"P5\n4 4\n255\n" + b"\x00" * 15)  # truncated pixels
    with pytest.raises(ValueError, match="truncated PGM header"):
        decode_pgm(b"P5\n4 4")  # header cut before maxval
    with pytest.raises(ValueError, match="single-byte"):
        decode_pgm(b"P5\n1 1\n65535\n\x00\x00")  # 16-bit PGM
    # PNG routes to the REAL codec since r10, JPEG since r11; malformed
    # streams are data errors, and so are unknown signatures — the
    # NotImplementedError capability hook no longer exists
    with pytest.raises(ValueError, match="IHDR/IDAT"):
        decode_image(b"\x89PNG\r\n\x1a\n")  # signature only, no chunks
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg")  # truncated JPEG stream
    with pytest.raises(ValueError, match="unrecognized image signature"):
        decode_image(b"BM windows bitmap")


def test_encode_pgm_produces_real_payloads(spark):
    """encode_pgm output decodes with the real parser and the pixels
    are exactly the doc's first 64 utf-8 bytes."""
    from martian_moments_spark.llmops.multimodal import PGM_H, PGM_W, encode_pgm

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(40)
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    from martian_moments_spark.llmops.multimodal import decode_pgm

    n = PGM_W * PGM_H
    got = encode_pgm(docs).collect()
    assert got and all(len(src[r["doc_id"]]) >= n for r in got)
    for r in got:
        w, h, maxval, px = decode_pgm(bytes(r["payload"]))
        assert (w, h, maxval) == (PGM_W, PGM_H, 255)
        assert px.tobytes() == src[r["doc_id"]].encode("utf-8")[:n]


def test_decode_wav_roundtrip_and_malformed():
    """The chunk-walking WAV parser is a real decoder: extra chunks
    before data, word-aligned odd chunks, and malformed payloads."""
    import struct

    import numpy as np
    import pytest

    from martian_moments_spark.llmops.multimodal import decode_wav

    rng = np.random.default_rng(11)
    samples = rng.integers(0, 256, size=33, dtype=np.uint8)  # odd size

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = chunk(b"LIST", b"junk metadata") + chunk(b"fmt ", fmt) + chunk(b"data", samples.tobytes())
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    rate, got = decode_wav(payload)
    assert rate == 8000 and np.array_equal(got, samples)

    with pytest.raises(ValueError, match="not a RIFF/WAVE"):
        decode_wav(b"RIFX" + payload[4:])
    with pytest.raises(ValueError, match="missing fmt/data"):
        decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(payload[:-8])
    stereo = struct.pack("<HHIIHH", 1, 2, 8000, 16000, 2, 8)
    bad = b"RIFF" + struct.pack("<I", 100) + b"WAVE" + chunk(b"fmt ", stereo) + chunk(b"data", b"\x00\x00")
    with pytest.raises(ValueError, match="8-bit mono"):
        decode_wav(bad)


def test_encode_wav_produces_real_payloads(spark):
    """encode_wav output decodes with the real parser; samples are the
    doc's first 64 utf-8 bytes; stdlib wave module agrees on header."""
    import io
    import wave

    from martian_moments_spark.llmops.multimodal import decode_wav, encode_wav

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(20)
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = encode_wav(docs).collect()
    assert got
    for r in got:
        payload = bytes(r["payload"])
        rate, samples = decode_wav(payload)
        assert rate == 8000
        assert samples.tobytes() == src[r["doc_id"]].encode("utf-8")[:64]
        with wave.open(io.BytesIO(payload)) as w:  # independent referee
            assert (w.getframerate(), w.getnchannels(), w.getsampwidth(), w.getnframes()) == (8000, 1, 1, 64)
            assert w.readframes(64) == samples.tobytes()


def test_char_anchor_grams_explicit_spread_matches_auto(spark):
    """spread=True/False/None all yield identical gram rows — the
    repartition decision is performance-only, never semantic."""
    from martian_moments_spark.llmops.textops import char_anchor_grams

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").limit(30)
    base = {tuple(r) for r in char_anchor_grams(docs, spread=False).collect()}
    assert base == {tuple(r) for r in char_anchor_grams(docs, spread=True).collect()}
    assert base == {tuple(r) for r in char_anchor_grams(docs).collect()}
    assert base  # non-empty on real docs


def test_term_counts_matches_groupby_form(spark):
    """textops.term_counts (in-row tf) is semantically identical to the
    explode -> groupBy(doc_id, term) form it offers to replace — same
    (doc_id, term, tf) multiset on real documents, including docs with
    repeated tokens and the empty-text edge."""
    from pyspark.sql import functions as F

    from martian_moments_spark.llmops.textops import term_counts, tokens

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .limit(50)
        .union(spark.createDataFrame([(10**9, ""), (10**9 + 1, "x x x")], "doc_id LONG, text STRING"))
    )
    inrow = {
        (r["doc_id"], r["term"], r["tf"])
        for r in docs.select(
            "doc_id", F.explode(term_counts("text")).alias("p")
        ).select("doc_id", "p.term", "p.tf").collect()
    }
    grouped = {
        (r["doc_id"], r["term"], r["tf"])
        for r in docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .collect()
    }
    assert inrow == grouped
    assert (10**9 + 1, "x", 3) in inrow  # repeated-token tf
    assert not any(d == 10**9 for d, _, _ in inrow)  # empty text -> no rows


def test_classifier_scores_planted_corpus(spark):
    """End-to-end classifier seam on a planted corpus: quality docs
    (40-token template, repeated — pass gate, low perplexity) label
    +1 and are kept; short OOV junk labels -1 and is rejected;
    featureless docs (< 2 tokens) score NULL with keep=false; and the
    reported score equals w.x + b recomputed from the module's own
    trainer on the same deterministically-selected sample."""
    from pyspark.sql import functions as F

    from martian_moments_spark.llmops.classifier import classifier_scores

    template = " ".join(f"q{i}" for i in range(40))
    rows = [(i, template) for i in range(20)]
    rows += [(100 + i, f"j{i}a j{i}b j{i}c") for i in range(10)]
    rows += [(200, "solo"), (201, "")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in classifier_scores(docs).collect()}
    assert len(got) == len(rows)
    for i in range(20):
        r = got[i]
        assert r["seed_label"] == 1
        assert r["keep"] and r["score"] > 0, r
    for i in range(10):
        r = got[100 + i]
        assert r["seed_label"] == -1
        assert not r["keep"] and r["score"] <= 0, r
    for d in (200, 201):
        r = got[d]
        assert r["n_features"] == 0
        assert r["score"] is None and not r["keep"], r
    # gibberish strictly below quality (the planted-separation law,
    # here on a deterministic corpus)
    assert max(got[100 + i]["score"] for i in range(10)) < min(
        got[i]["score"] for i in range(20)
    )


def test_hier_route_units_invariants(spark):
    """Two-level router (llmops/hier.py): every vector gets exactly one
    cell; cells are valid child ids; the first k1 seeds are parents and
    each routes to itself (distance 0, lowest-id tie) when seeds are
    distinct; and routing is deterministic across invocations."""
    import math

    from pyspark.sql import functions as F

    from martian_moments_spark.llmops.hier import hier_route_units

    def fake_embeddings(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: ((F.col("id") * 37 + i * 11) % 97 / 97.0) - 0.5,
            ).alias("embedding"),
        )

    n, k = 600, 36
    assigned, k_eff, k1 = hier_route_units(fake_embeddings(n), k=k)
    assert k_eff == k and k1 == int(math.floor(math.sqrt(k)))
    rows = assigned.collect()
    assert len(rows) == n
    cells = {r["cell"] for r in rows}
    assert all(0 <= c < k for c in cells)
    assert len(cells) >= k1  # at least the live parents' own cells route
    # determinism: a second invocation routes identically
    again = {r["vec_id"]: r["cell"] for r in hier_route_units(fake_embeddings(n), k=k)[0].collect()}
    assert again == {r["vec_id"]: r["cell"] for r in rows}


def test_suffix_array_ranks_match_naive_sort(spark):
    """The prefix-doubling suffix array must order suffixes exactly as
    a naive python sort of the suffix strings (binary comparison,
    shorter-prefix-first) — including repeated substrings, full-doc
    duplicates (tie groups), and single-char docs."""
    from martian_moments_spark.llmops.dedup import suffix_array_ranks

    rows = [
        (1, "banana"),
        (2, "bandana"),
        (3, "a"),
        (4, "banana"),   # byte-identical to doc 1 -> tie groups
        (5, "nan"),
        (6, ""),         # empty doc: zero suffixes (sequence(1,0) is
                         # DESCENDING in Spark and must not leak in)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = suffix_array_ranks(df).collect()

    suffixes = [(d, i + 1, t[i:]) for d, t in rows for i in range(len(t))]
    order = sorted(suffixes, key=lambda x: x[2])
    # expected dense rank of each suffix = 1 + #distinct strings before it
    uniq = sorted({s for _, _, s in order})
    exp_rank = {s: r for r, s in enumerate(uniq, start=1)}
    exp = {(d, i): exp_rank[s] for d, i, s in suffixes}

    assert len(got) == len(suffixes)
    for r in got:
        assert exp[(r["doc_id"], r["i"])] == r["rank"], (
            r["doc_id"], r["i"], r["rank"], exp[(r["doc_id"], r["i"])]
        )


def test_exact_substring_shared_finds_true_longest(spark):
    """Per-doc longest shared substring must equal the brute-force
    answer (all substring pairs) — the adjacency argument in the
    docstring, checked against ground truth on crafted docs with a
    long shared run, a full duplicate, and a unique doc."""
    from martian_moments_spark.llmops.dedup import exact_substring_shared

    rows = [
        (1, "xxTHE SHARED BOILERPLATE RUNzz"),
        (2, "abTHE SHARED BOILERPLATE RUNcd"),
        (3, "completely unique content qqq"),
        (4, "completely unique content qqq"),  # full duplicate of 3
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r["longest_shared_len"] for r in exact_substring_shared(df, min_shared=10).collect()}

    def brute(a, b):
        best = 0
        for i in range(len(a)):
            for j in range(len(b)):
                k = 0
                while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                    k += 1
                best = max(best, k)
        return best

    texts = dict(rows)
    for d in texts:
        expected = max(brute(texts[d], texts[o]) for o in texts if o != d)
        assert got[d] == expected, (d, got[d], expected)
    keeps = {r["doc_id"]: r["keep"] for r in exact_substring_shared(df, min_shared=10).collect()}
    assert keeps == {1: False, 2: False, 3: False, 4: False}  # all share >= 10
    keeps_90 = {r["doc_id"]: r["keep"] for r in exact_substring_shared(df, min_shared=90).collect()}
    assert all(keeps_90.values())
