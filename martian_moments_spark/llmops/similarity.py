"""Similarity search over embedding columns (array<float>).

Cosine similarity is computed in FIXED POINT: each float coordinate is
converted (exactly, via the shared double widening) to integer
millionths; dot products and norms are then BIGINT sums — associative,
so identical under any partitioning, AQE re-plan, retry, or engine.
The final cosine is a double division of integers: bit-identical in
Spark and DuckDB. This is what makes an *exact* ANN oracle possible.

Scale design (100 TB):
- brute-force top-k is the baseline/verifier: O(n^2) pairs — run only
  inside a bounded candidate set.
- IVF path: a deterministic k-means coarse quantizer (kmeans_units —
  sample-trained, integer centroids, oracle-replayable) assigns each
  vector its nearest-centroid cell; search is within-cell — the
  self-join shuffles on the cell key only, turning O(n^2) into
  O(sum cell^2). Salting/AQE handle hot cells; multi-probe = the
  probe_cells replication, still a pure equi-join.

One set of exact numpy kernels serves every Arrow seam of the family.
Each search is a local top-k per cell or block, then at most one
global merge (a Spark window). The per-cell and per-block functions
only sort rows by id and call four private primitives:
``_cosine_topk`` (top-k cosine with a validity mask), ``_first_earlier_hit``
(minimum earlier id at cosine >= tau), ``_nearest_cells`` (top-``take``
centroids) and ``_argmin_cells`` (its ``take = 1`` form). All four
bound their temporaries by streaming in fixed chunks and build on
``_gram_f64``; ``_units_np`` is the one numpy form of the Spark
rounding to integer millionths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

FIXED_SCALE = 1_000_000


def embedding_units(col: Column | str) -> Column:
    """array<float> → array<bigint> of exact integer millionths."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.round(x.cast("double") * FIXED_SCALE, 0).cast("long"))




def dot_units(a: Column, b: Column) -> Column:
    prod = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0).cast("long"), lambda acc, v: acc + v)




def cosine_fixed(units_a: Column, units_b: Column, norm_a: Column, norm_b: Column) -> Column:
    """cosine = dot / (sqrt(|a|^2) * sqrt(|b|^2)), all from integers.
    sqrt(na)*sqrt(nb) instead of sqrt(na*nb): the product of two
    squared norms overflows BIGINT."""
    return dot_units(units_a, units_b).cast("double") / (
        F.sqrt(norm_a.cast("double")) * F.sqrt(norm_b.cast("double"))
    )


def with_units_and_norm(
    df: DataFrame, emb_col: str = "embedding", prefix: str = ""
) -> DataFrame:
    """Precompute integer units + squared norm once per vector — the
    pairwise stage then reuses them (never recompute per pair)."""
    units = embedding_units(emb_col)
    return df.withColumn(prefix + "units", units).withColumn(
        prefix + "norm2", dot_units(F.col(prefix + "units"), F.col(prefix + "units"))
    )


def topk_cosine(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    cell_col: str | None = None,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Top-k cosine neighbors per vector.

    ``cell_col=None`` → brute force over all pairs (baseline/verifier;
    O(n²) by definition). To make misuse loud at corpus scale, the
    brute-force arm raises unless ``allow_full_scan=True`` — callers
    must opt in to the quadratic plan explicitly (the registered
    exact-verifier query uses the block-partitioned
    ``topk_cosine_blocked`` instead).
    ``cell_col='label'`` → IVF: pairs only within the same cell.
    """
    if cell_col is None and not allow_full_scan:
        raise ValueError(
            "topk_cosine(cell_col=None) is the O(n^2) brute-force "
            "baseline: pass allow_full_scan=True to opt in, or use "
            "cell_col=... (IVF) / topk_cosine_blocked (partitioned "
            "exact) for anything corpus-sized"
        )
    base = with_units_and_norm(df.select(id_col, emb_col, *( [cell_col] if cell_col else [] )), emb_col)
    a = base.select(
        *( [F.col(cell_col).alias("cell")] if cell_col else [] ),
        F.col(id_col).alias("id_a"),
        F.col("units").alias("units_a"),
        F.col("norm2").alias("norm_a"),
    )
    b = base.select(
        *( [F.col(cell_col).alias("cell")] if cell_col else [] ),
        F.col(id_col).alias("id_b"),
        F.col("units").alias("units_b"),
        F.col("norm2").alias("norm_b"),
    )
    pairs = a.join(b, on="cell" if cell_col else None, how="inner") if cell_col else a.crossJoin(b)
    pairs = pairs.filter(F.col("id_a") != F.col("id_b")).withColumn(
        "cosine",
        cosine_fixed(F.col("units_a"), F.col("units_b"), F.col("norm_a"), F.col("norm_b")),
    )
    w = W.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "id_a",
            "id_b",
            "cosine",
            "rank",
            *( ["cell"] if cell_col else [] ),
        )
    )


def _gram_f64(A, B=None):
    """``A @ B.T`` over int64 unit matrices, computed by float64 BLAS.
    EXACT, not approximate: every elementwise product and every
    partial sum is an integer, and the guard keeps 4*dim*max|unit|^2
    below 2^53 — the range where float64 addition of integers is
    exact in ANY order — so dgemm returns bit-identical integers to
    the int64 matmul (which numpy executes as a naive loop, ~50x
    slower; int64 has no BLAS path). Falls back to the int64 matmul
    when the bound cannot be proven for the data at hand. The same
    bound covers the ``na + nb - 2ab`` distance identity built on it.
    Returns float64 with integer values."""
    import numpy as np

    if B is None:
        B = A
    m = int(max(np.abs(A).max(initial=0), np.abs(B).max(initial=0)))
    if 4 * A.shape[1] * m * m < 2**53:
        return A.astype(np.float64) @ B.astype(np.float64).T
    return (A @ B.T).astype(np.float64)


def _topk_stable(neg, kk1: int):
    """First ``kk1`` columns of ``np.argsort(neg, axis=1,
    kind="stable")`` without the full row sort — the r11-deferred
    argpartition selection (VERDICT r11 #6).

    Exactness contract: identical to the stable argsort prefix,
    INCLUDING tie handling (ties break toward the lower column index —
    the kernels' lowest-id rule) and NaN handling (NaN sorts after
    everything, exactly numpy's sort order). An O(m) partition finds
    the kk1-th smallest value per row; candidate columns are those not
    strictly above it — ``~(neg > kth)`` rather than ``neg <= kth`` so
    NaN cells stay candidates (NaN compares False both ways) and a NaN
    boundary (fewer than kk1 non-NaN cells) degrades to the full row —
    then one stable sort over the few candidates reproduces the exact
    prefix. Cost: O(n*m) selection instead of O(n*m*log m) sorting;
    the per-row sort touches kk1 + |boundary ties| elements, not m.
    """
    import numpy as np

    n, m = neg.shape
    if not 0 < kk1 < m:
        return np.argsort(neg, axis=1, kind="stable")[:, :kk1]
    kth = np.partition(neg, kk1 - 1, axis=1)[:, kk1 - 1 : kk1]
    mask = ~(neg > kth)
    out = np.empty((n, kk1), dtype=np.int64)
    for r in range(n):
        cand = np.flatnonzero(mask[r])  # ascending column order
        # stable value sort of the candidates = the argsort prefix
        # order (rank order), ties kept in ascending-column order
        out[r] = cand[np.argsort(neg[r, cand], kind="stable")[:kk1]]
    return out


_PAIR_TYPES = {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
_TOPK_TYPES = {**_PAIR_TYPES, "rank": "int32", "cell": "int32"}


def _units_np(values):
    """Float embeddings (one array per row) -> int64 (n, dim) exact
    integer millionths: the numpy form of ``embedding_units``. Spark's
    ``round`` is half away from zero while ``np.rint`` is half to even,
    so the rounding is spelled out."""
    import numpy as np

    v = np.stack([np.asarray(e, dtype=np.float64) for e in values]) * FIXED_SCALE
    return (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)


def _units_matrix(values):
    """An Arrow ``array<bigint>`` column as an int64 (n, dim) matrix."""
    import numpy as np

    return np.stack([np.asarray(u, dtype=np.int64) for u in values])


def _norms(u):
    import numpy as np

    return np.sqrt(np.einsum("ij,ij->i", u, u).astype(np.float64))


def _cosine_topk(qu, cu, k: int, valid=None):
    """Exact top-``k`` cosine neighbours of every query row of ``qu``
    among the candidate rows of ``cu`` (int64 unit matrices; candidate
    rows in ascending id order): the one local kernel behind every
    per-cell and per-block search. Each caller's global ranking is a
    merge of these local top-k lists (the REPOSE shape).

    The cosine is ``g / np.outer(|q|, |c|)`` with ``g`` the exact
    integer Gram block (``_gram_f64``): the ``cosine_fixed`` float
    discipline, one division, so the DuckDB oracles replay it bit for
    bit. ``valid = (qkey, ckey)`` excludes every pair whose keys are
    EQUAL (self, same label, non-candidate). Per row, selection is the
    first ``k`` entries of the stable descending order
    (``_topk_stable``: ties to the lower column, i.e. the lower id),
    in which the NaN cosines of a zero-norm vector rank after every
    number and the excluded pairs after every valid pair, NaN
    included; excluded pairs that fill a row with fewer than ``k``
    valid ones are dropped after selection. A zero-norm query thus
    still emits its valid candidates, with NULL cosines, as the SQL
    replays (``ORDER BY cosine DESC NULLS LAST, id``) do.

    Memory shape: queries stream in 512-row chunks against all
    candidates, so the largest temporary is (512, m), recycled by the
    allocator after the first chunk. ``qu`` must have a row. Returns
    ``(row, col, cosine, rank)`` arrays, row-major, rank ascending."""
    import numpy as np

    qn = _norms(qu)
    cn = qn if cu is qu else _norms(cu)
    parts = []
    chunk = 512
    for s in range(0, len(qu), chunk):
        e = min(s + chunk, len(qu))
        g = _gram_f64(qu[s:e], cu)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = g / np.outer(qn[s:e], cn)
        if valid is None:
            ok = np.ones(cos.shape, dtype=bool)
        else:
            ok = valid[0][s:e, None] != valid[1][None, :]
        # ascending key: -cosine, then NaN cosines (inf), then excluded
        # pairs (NaN, which numpy sorts last)
        top = _topk_stable(np.where(ok, np.where(np.isnan(cos), np.inf, -cos), np.nan), k)
        hit = np.take_along_axis(ok, top, axis=1)
        rank = np.cumsum(hit, axis=1)
        r, t = np.nonzero(hit & (rank <= k))
        c = top[r, t]
        parts.append((s + r, c, cos[r, c], rank[r, t]))
    return tuple(np.concatenate(p) for p in zip(*parts))


def _first_earlier_hit(u, tau: float):
    """Per row of ``u`` (an int64 unit matrix in ascending id order),
    the position of the FIRST earlier row whose exact fixed-point
    cosine reaches ``tau``, or -1: the minimum earlier id, which is
    what near-duplicate resolution keeps. Earlier rows stream in
    ascending 512-row chunks against all columns and a column keeps
    its first hit, so the answer equals the one-shot upper-triangle
    scan with (512, n) temporaries instead of (n, n)."""
    import numpy as np

    n = len(u)
    norms = _norms(u)
    first = np.full(n, -1, dtype=np.int64)
    cols = np.arange(n)
    chunk = 512
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        g = _gram_f64(u[s:e], u)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = g / np.outer(norms[s:e], norms)
        mask = (cos >= tau) & (np.arange(s, e)[:, None] < cols[None, :])
        fill = mask.any(axis=0) & (first == -1)
        first[fill] = s + mask.argmax(axis=0)[fill]
    return first


def _nearest_cells(U, C, cell_ids, take: int):
    """Per row of ``U``, the ids of the ``take`` nearest centroids (rows
    of ``C``, ids ``cell_ids``) by exact squared L2 distance
    ``|u|^2 + |c|^2 - 2 u.c`` (exact integers, see ``_gram_f64``), ties
    to the lower id: the probe ranking. Columns are put in ascending id
    order, so one stable sort per chunk is the (distance, id) rule.
    Rows stream in 512-row chunks; the largest temporary is (512, k).
    Returns an (n, take) id matrix. ``_argmin_cells`` is the
    ``take = 1`` form."""
    import numpy as np

    o = np.argsort(cell_ids, kind="stable")
    C, cell_ids = C[o], cell_ids[o]
    cn = np.einsum("ij,ij->i", C, C)
    out = []
    chunk = 512
    for s in range(0, len(U), chunk):
        Uc = U[s : s + chunk]
        un = np.einsum("ij,ij->i", Uc, Uc)
        d = un[:, None] + cn[None, :] - 2 * _gram_f64(Uc, C)
        out.append(cell_ids[np.argsort(d, axis=1, kind="stable")[:, :take]])
    return np.concatenate(out)


# Coarse-quantizer operating point (shared by the Spark plans and the
# generated DuckDB oracle — single source of truth).
K_CELLS = 4
KMEANS_ITERS = 2
N_PROBE = 3


#: Quantizer training-sample cap: k-means trains on the KMEANS_SAMPLE
#: vectors with the smallest (md5-hash, id) — a deterministic,
#: order-free sample both engines select identically. Testdata corpora
#: are far smaller than the cap, so training sees every vector there.
#: SCALE DISCIPLINE: the sample must stay >= the cell count k, or the
#: Spark side (seeds = first min(k, sample) of the sample) and the SQL
#: side (seeds = first k of the table order) diverge, and cells cap at
#: the sample size — cell sizes then grow linearly past
#: sample * target vectors and within-cell work goes quadratic. The
#: corpus-scaled callers (kmeans_units_corpus, hard_negatives) pass
#: sample = max(KMEANS_SAMPLE, 2 * k), which is the identity below
#: ~1M vectors (so every recorded result is unchanged) and holds the
#: cell-size target above it. Driver training is O(sample * k * dim)
#: float64 BLAS — seconds at 20k x 10k x 64.
KMEANS_SAMPLE = 4096


def _argmin_cells(U, C, cell_ids, chunk: int = 1024):
    """Nearest-centroid assignment — argmin over cells of the exact
    squared L2 distance ``|u|^2 + |c|^2 - 2 u.c`` — computed in
    centroid CHUNKS with a running best. Value-identical to the
    one-shot (n, k) matrix argmin: every distance is the same exact
    integer (see _gram_f64), cell_ids ascend, and the strict ``<``
    cross-chunk update keeps ties at the lowest cell id, which is
    argmin's first-occurrence rule. The point is memory shape: the
    largest temporary is (n, chunk) instead of (n, k) — at 5M vectors
    x 10k cells the one-shot form allocates an 800 MB distance matrix
    per Arrow batch, and on this container FIRST-TOUCH page faults
    dominate fresh multi-GB allocations (measured ~80 MB/s first
    touch vs GB/s reuse); same-size chunk temporaries are recycled by
    the allocator after the first chunk. At 100 TB the same shape
    holds: assignment cost is O(n*k*dim) flops with O(n*chunk)
    memory, streaming over the corpus."""
    import numpy as np

    un = np.einsum("ij,ij->i", U, U)
    best_d = None
    best_c = None
    rows = np.arange(len(U))
    for s in range(0, len(cell_ids), chunk):
        Cc = C[s : s + chunk]
        cn = np.einsum("ij,ij->i", Cc, Cc)
        d = un[:, None] + cn[None, :] - 2 * _gram_f64(U, Cc)
        j = d.argmin(axis=1)
        dj = d[rows, j]
        cj = cell_ids[s + j]
        if best_d is None:
            best_d, best_c = dj, cj
        else:
            upd = dj < best_d
            best_d = np.where(upd, dj, best_d)
            best_c = np.where(upd, cj, best_c)
    return best_c


def kmeans_units(
    df: DataFrame,
    k: int = K_CELLS,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    sample: int = KMEANS_SAMPLE,
):
    """Deterministic k-means coarse quantizer over fixed-point units —
    the 100 TB shape: train driver-side on a bounded deterministic
    sample, broadcast the k*dim integer centroids, assign the whole
    corpus in ONE vectorized streaming pass.

    Every step is integer or IEEE-exact arithmetic, so the assignment
    is bit-reproducible on any engine (the DuckDB oracle replays it via
    ``sql_kmeans_ctes``):

    - training set: the ``sample`` vectors with the smallest
      ``(md5-hash(vec_id), vec_id)`` — deterministic and order-free,
      so SQL selects the identical set;
    - seeds: the first ``k`` of that training order — cell ids 0..k-1;
    - assignment: argmin over cells of the exact int64 squared L2
      distance, ties to the lowest cell id;
    - update: per-coordinate ``floor(sum/count + 0.5)`` — int64 sums
      are exact, the division is one IEEE double op (|sum| << 2^53),
      so the rounded centroid is identical everywhere. Cells that end
      an iteration empty are dropped (their id simply stops existing).

    Runs ``iters`` (assign → update) rounds then the corpus-wide
    assignment. Training is numpy on the collected sample (one Spark
    job); the corpus pass is ``assign_cells``'s (``_assign_units`` over
    the units frame already built for training): ``mapInPandas`` with
    the centroid matrix as a tiny closure broadcast — no shuffle.

    Returns ``(assigned_df, centroids)``: the input with ``units``,
    ``norm2`` and ``cell`` columns, and the final ``[(cell_id,
    np.int64[dim])]`` list (sorted by cell id) for probe ranking.
    """
    import numpy as np

    from martian_moments_spark.llmops.textops import portable_hash31

    base = with_units_and_norm(df.select(id_col, emb_col), emb_col).select(
        id_col, "units", "norm2"
    )
    train_rows = (
        base.withColumn("__h", portable_hash31(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(sample)
        .select("units")
        .collect()
    )
    T = _units_matrix(r[0] for r in train_rows)
    cents = [(i, T[i].copy()) for i in range(min(k, len(T)))]

    for _ in range(iters):
        cell_ids = np.array([c for c, _ in cents], dtype=np.int64)
        C = np.stack([v for _, v in cents])
        a = _argmin_cells(T, C, cell_ids)
        # centroid update by sort + reduceat: O(n log n) instead of a
        # per-cell boolean mask scan (O(n*k) — minutes at k=10k).
        # Value-identical: int64 sums are order-free and reduceat
        # emits groups in ascending cell id, exactly the order the
        # mask loop walked; empty cells simply never appear.
        ordr = np.argsort(a, kind="stable")
        sa = a[ordr]
        starts = np.flatnonzero(np.r_[True, sa[1:] != sa[:-1]])
        sums = np.add.reduceat(T[ordr], starts, axis=0)
        counts = np.diff(np.r_[starts, len(sa)])
        cents = [
            (int(cid), np.floor(ssum / cnt + 0.5).astype(np.int64))
            for cid, ssum, cnt in zip(sa[starts], sums, counts)
        ]

    return _assign_units(base, cents, id_col), cents


def probe_cells(assigned: DataFrame, centroids, n_probe: int = N_PROBE) -> DataFrame:
    """Per-query probe list: the ``n_probe`` cells whose (final)
    centroids are nearest the query vector, ranked by exact int64
    squared distance with ties to the lowest cell id. The query's own
    cell is rank 1 by construction (assignment is the same argmin).
    Returns the input plus an exploded ``probe_cell`` column — the
    search join stays a pure equi-join on it."""
    import numpy as np

    cell_ids = np.array([c for c, _ in centroids], dtype=np.int64)
    C = np.stack([v for _, v in centroids])
    take = min(n_probe, len(cell_ids))

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(probe_cells=pd.Series([], dtype=object))
                continue
            U = _units_matrix(pdf["units"])
            yield pdf.assign(probe_cells=list(_nearest_cells(U, C, cell_ids, take)))

    cols = assigned.columns
    schema = ", ".join(
        [
            "vec_id BIGINT",
            "units ARRAY<BIGINT>",
            "norm2 BIGINT",
            *(["cell INT"] if "cell" in cols else []),
            "probe_cells ARRAY<BIGINT>",
        ]
    )
    out = assigned.mapInPandas(fn, schema)
    return out.withColumn("probe_cell", F.explode("probe_cells")).drop("probe_cells")


def topk_units_cells_pandas(assigned: DataFrame, k: int = 5) -> DataFrame:
    """Per-cell exact top-k from precomputed units (the kmeans_units
    output): one shuffle on the cell key, then ``_cosine_topk`` per
    cell with self excluded by position — the search stage of the IVF
    path.

    HOT-CELL DISCIPLINE (r09, measured at 5M vectors): quantizer cells
    are never perfectly balanced (the 5M cell-balance report shows a
    40x-target hottest cell), and the earlier whole-cell form built an
    m x m cosine matrix (3.2 GB at m=20k) plus a PER-ROW python
    lexsort (m sorts of m — minutes for one hot cell). ``_cosine_topk``
    streams queries in fixed row-chunks against the whole cell, so the
    largest temporary is (chunk, m) (~80 MB at m=20k); rows are sorted
    by id first, so its lower-column tie rule is the lowest-id rule."""
    import numpy as np
    import pandas as pd

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        u = _units_matrix(pdf["units"])[order]
        pos = np.arange(len(ids))
        r, c, cos, rank = _cosine_topk(u, u, k, (pos, pos))
        return pd.DataFrame(
            {"id_a": ids[r], "id_b": ids[c], "cosine": cos, "rank": rank, "cell": pdf["cell"].iloc[0]}
        ).astype(_TOPK_TYPES)

    return assigned.select("vec_id", "units", "cell").groupBy("cell").applyInPandas(
        per_cell, "id_a BIGINT, id_b BIGINT, cosine DOUBLE, rank INT, cell INT"
    )


def topk_units_cells_filtered_pandas(
    assigned: DataFrame, k: int = 5, cand_col: str = "is_cand"
) -> DataFrame:
    """Filtered per-cell exact top-k (the pre-filter ANN strategy):
    every vector in the cell is a QUERY, but only rows with
    ``cand_col`` true are CANDIDATES — the
    "WHERE label = X ORDER BY embedding <-> q LIMIT k" plan at IVF
    cost. One shuffle on the cell key, one rectangular ``_cosine_topk``
    (queries x candidates, self excluded by id) per cell instead of a
    JVM pair join with a per-pair zip-dot — the same rewrite that took
    SemDeDup from 57 s to 4.6 s at sf1."""
    import numpy as np
    import pandas as pd

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        cand = pdf[cand_col].to_numpy(dtype=bool)[order]
        u = _units_matrix(pdf["units"])[order]
        r, c, cos, rank = _cosine_topk(u, u[cand], k, (ids, ids[cand]))
        return pd.DataFrame(
            {"id_a": ids[r], "id_b": ids[cand][c], "cosine": cos, "rank": rank, "cell": pdf["cell"].iloc[0]}
        ).astype(_TOPK_TYPES)

    return (
        assigned.select("vec_id", "units", "cell", cand_col)
        .groupBy("cell")
        .applyInPandas(
            per_cell, "id_a BIGINT, id_b BIGINT, cosine DOUBLE, rank INT, cell INT"
        )
    )


def semdedup_verdicts_pandas(assigned: DataFrame, tau: float) -> DataFrame:
    """SemDeDup keep/drop verdicts per quantizer cell: one shuffle on
    the cell key and one ``_first_earlier_hit`` scan per cell —
    ``dup_of`` is the MINIMUM lower id whose cosine reaches ``tau``.
    Emits ONE row per vector (kept rows carry a null ``dup_of``), so
    the caller needs no join-back against the assignment."""
    import numpy as np
    import pandas as pd

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        first = _first_earlier_hit(_units_matrix(pdf["units"])[order], tau)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": np.full(len(ids), pdf["cell"].iloc[0], dtype="int32"),
                "dup_of": pd.arrays.IntegerArray(ids[first], first < 0),
                "is_kept": pd.array(first < 0, dtype="boolean"),
            }
        )

    return assigned.select("vec_id", "units", "cell").groupBy("cell").applyInPandas(
        per_cell, "vec_id BIGINT, cell INT, dup_of BIGINT, is_kept BOOLEAN"
    )


def hard_negatives_cells_pandas(assigned: DataFrame, k: int = 3) -> DataFrame:
    """Hard-negative mining within quantizer cells: for every vector,
    the ``k`` most-similar DIFFERENT-label vectors in its cell —
    contrastive training's negative-sampling stage, IVF-bounded so
    the scan is cell_size, not corpus. Input must carry a ``label``
    column alongside the kmeans_units output. One shuffle on the cell
    key, one ``_cosine_topk`` per cell with same-label pairs excluded;
    the ranking is (cosine DESC, neg_id)."""
    import numpy as np
    import pandas as pd

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        labels = pdf["label"].to_numpy()[order]
        u = _units_matrix(pdf["units"])[order]
        r, c, cos, rank = _cosine_topk(u, u, k, (labels, labels))
        return pd.DataFrame(
            {
                "query_id": ids[r],
                "query_label": labels[r],
                "neg_id": ids[c],
                "neg_label": labels[c],
                "cosine": cos,
                "rank": rank,
            }
        ).astype(
            {
                "query_id": "int64",
                "query_label": "int32",
                "neg_id": "int64",
                "neg_label": "int32",
                "cosine": "float64",
                "rank": "int32",
            }
        )

    return (
        assigned.select("vec_id", "label", "units", "cell")
        .groupBy("cell")
        .applyInPandas(
            per_cell,
            "query_id BIGINT, query_label INT, neg_id BIGINT, "
            "neg_label INT, cosine DOUBLE, rank INT",
        )
    )


def topk_units_probed(probed: DataFrame, assigned: DataFrame, k: int = 5) -> DataFrame:
    """Multi-probe search stage: queries (replicated once per probe
    cell) cogrouped with the candidates assigned to that cell; each
    (probe cell) group runs one ``_cosine_topk`` (query x candidate
    block, self excluded by id) and keeps per-cell partial top-k; a
    final window re-ranks the <= n_probe * k partials per query. Exact
    within the probed cells: every candidate lives in exactly one cell,
    so no pair is scored twice, and a cell's k+1th candidate can never
    enter the global top-k past its own k better cellmates. One
    shuffle on the cell key each side."""
    import numpy as np
    import pandas as pd

    queries = probed.select(
        F.col("probe_cell").cast("int").alias("cell"),
        F.col("vec_id").alias("id_a"),
        F.col("units").alias("units_a"),
    )
    cands = assigned.select("cell", F.col("vec_id").alias("id_b"), F.col("units").alias("units_b"))

    def per_cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(columns=list(_PAIR_TYPES)).astype(_PAIR_TYPES)
        qi = left["id_a"].to_numpy()
        order_c = np.argsort(right["id_b"].to_numpy())
        ci = right["id_b"].to_numpy()[order_c]
        cu = _units_matrix(right["units_b"])[order_c]
        r, c, cos, _ = _cosine_topk(_units_matrix(left["units_a"]), cu, k, (qi, ci))
        return pd.DataFrame({"id_a": qi[r], "id_b": ci[c], "cosine": cos}).astype(_PAIR_TYPES)

    partial = (
        queries.groupBy("cell")
        .cogroup(cands.groupBy("cell"))
        .applyInPandas(per_cell, "id_a BIGINT, id_b BIGINT, cosine DOUBLE")
    )
    w = W.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("id_a", "id_b", "cosine", "rank")
    )


def sql_kmeans_ctes(
    units_sql: str,
    hash_sql: str,
    k: int | str = K_CELLS,
    iters: int = KMEANS_ITERS,
    table: str = "embeddings",
    id_col: str = "vec_id",
    sample: int | str = KMEANS_SAMPLE,
) -> str:
    """DuckDB CTE chain replaying ``kmeans_units`` exactly (same
    hash-ordered training sample, same seeds, same integer distances,
    same tie-breaks, same centroid rounding). Ends with
    ``kassign(vec_id, units, norm2, cell)`` over the WHOLE table and
    ``kcents(cell, c)`` — callers build search CTEs on top.

    ``k`` may be a SQL scalar-subquery string (e.g. ``(SELECT
    GREATEST(4, COUNT(*) // 64) FROM embeddings)``) — it lands only in
    the seed LIMIT, so a corpus-scaled cell count replays exactly as
    long as the Spark side computes the identical integer. ``sample``
    may likewise be a SQL expression (the corpus-scaled callers pass
    ``GREATEST(KMEANS_SAMPLE, 2 * k)`` — see the KMEANS_SAMPLE scale
    note); it must evaluate >= k or the seed selections diverge."""
    parts = [
        f"""kunits AS (
            SELECT {id_col} AS vec_id, {units_sql} AS units,
                   CAST(list_sum(list_transform(list_zip({units_sql}, {units_sql}),
                        z -> z[1] * z[2])) AS BIGINT) AS norm2
            FROM {table}
        ), ktrain AS (
            SELECT vec_id, units FROM (
                SELECT {id_col} AS vec_id, {units_sql} AS units
                FROM {table}
                ORDER BY {hash_sql}, {id_col} LIMIT {sample}
            )
        ), kseeds AS (
            SELECT vec_id, units FROM (
                SELECT {id_col} AS vec_id, {units_sql} AS units
                FROM {table}
                ORDER BY {hash_sql}, {id_col} LIMIT {k}
            )
        ), kcents_0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY {hash_sql}, vec_id) - 1 AS cell,
                   units AS c
            FROM kseeds
        )"""
    ]
    prev = "kcents_0"
    for t in range(1, iters + 1):
        parts.append(
            f"""kdist_{t} AS (
            SELECT v.vec_id, v.units, c.cell,
                   CAST(list_sum(list_transform(list_zip(v.units, c.c),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d
            FROM ktrain v CROSS JOIN {prev} c
        ), kassign_{t} AS (
            SELECT vec_id, units, cell FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
                FROM kdist_{t}
            ) WHERE rn = 1
        ), kcoord_{t} AS (
            SELECT cell, pos,
                   CAST(floor(CAST(SUM(val) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS coord
            FROM (
                SELECT cell, unnest(range(1, len(units) + 1)) AS pos,
                       unnest(units) AS val
                FROM kassign_{t}
            ) GROUP BY cell, pos
        ), kcents_{t} AS (
            SELECT cell, list(coord ORDER BY pos) AS c
            FROM kcoord_{t} GROUP BY cell
        )"""
        )
        prev = f"kcents_{t}"
    parts.append(
        f"""kfdist AS (
            SELECT v.vec_id, v.units, v.norm2, c.cell,
                   CAST(list_sum(list_transform(list_zip(v.units, c.c),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d
            FROM kunits v CROSS JOIN {prev} c
        ), kassign AS (
            SELECT vec_id, units, norm2, cell FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
                FROM kfdist
            ) WHERE rn = 1
        ), kcents AS (SELECT cell, c FROM {prev})"""
    )
    return ", ".join(parts)


def topk_cosine_blocked(
    df: DataFrame,
    k: int = 5,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k, block-partitioned — the 100 TB form of
    the all-pairs search (no quantizer, unlike IVF; same answers as
    the naive cross join, so it shares that oracle).

    Vectors are dealt into ``n_blocks`` by id; every (query-block,
    candidate-block) pair is one cogroup task that computes its
    sub-matrix with ``_cosine_topk`` and keeps a partial
    top-k per query (any global top-k candidate is within its pair's
    top-k under the same total order, so the final window re-rank over
    B*k partials is exact). Work is still O(n^2) — brute force is —
    but it is spread over B^2 independent tasks with vectorized inner
    loops and no pairwise row materialization, which is what makes the
    exact verifier runnable over a bounded candidate set at scale."""
    import numpy as np
    import pandas as pd

    b = F.lit(n_blocks)
    base = df.select(id_col, emb_col).withColumn("__blk", F.pmod(F.col(id_col), b))
    pair_ids = F.explode(F.sequence(F.lit(0), b - 1))
    queries = base.withColumn("__other", pair_ids).select(
        F.col("__blk").alias("__qb"), F.col("__other").alias("__cb"), id_col, emb_col
    )
    cands = base.withColumn("__other", pair_ids).select(
        F.col("__other").alias("__qb"), F.col("__blk").alias("__cb"), id_col, emb_col
    )

    def per_pair(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame(columns=list(_PAIR_TYPES)).astype(_PAIR_TYPES)
        qi = left[id_col].to_numpy()
        order_c = np.argsort(right[id_col].to_numpy(), kind="stable")
        ci = right[id_col].to_numpy()[order_c]
        cu = _units_np(right[emb_col])[order_c]
        # The block emits its top k+1 in numpy order (NaN cosines of a
        # zero-norm vector last) minus self, which may be present when
        # qb == cb. Exactly that row set, no more: the final window
        # orders NaN FIRST, so a block that emitted extra NaN rows
        # would change the answer on zero-norm input.
        r, c, cos, _ = _cosine_topk(_units_np(left[emb_col]), cu, k + 1)
        other = qi[r] != ci[c]
        return pd.DataFrame(
            {"id_a": qi[r][other], "id_b": ci[c][other], "cosine": cos[other]}
        ).astype(_PAIR_TYPES)

    # Measured rejection (r11, do not retry): pinning the cogroup's
    # (__qb, __cb) exchanges at the session's parallelism — the repair
    # that won 4.2x on ewma_per_user's applyInPandas — benched
    # 0.98x/0.97x here (interleaved A/B). The 2000-vector block
    # matmuls are microseconds of numpy, so spreading 64 groups over
    # 32 pinned tasks just buys more Arrow worker round-trips; AQE's
    # ~6-task coalesce is already right for this kernel (the same
    # economics as the embedding_srp_neardup rejection).
    partial = (
        queries.groupBy("__qb", "__cb")
        .cogroup(cands.groupBy("__qb", "__cb"))
        .applyInPandas(per_pair, "id_a BIGINT, id_b BIGINT, cosine DOUBLE")
    )
    w = W.partitionBy("id_a").orderBy(F.col("cosine").desc(), F.col("id_b"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("id_a", "id_b", "cosine", "rank")
    )


# --- signed-random-projection LSH (the hash-family ANN, vs IVF's
# quantizer family) -------------------------------------------------
#
# Hyperplane weights are ±1 drawn from md5 parity — the engine's
# portable-hash rule, so the DuckDB oracle regenerates the identical
# planes and the whole signature pipeline stays exactly replayable.

SRP_BITS = 32  # signature bits per vector
SRP_BAND_BITS = 8  # bits per LSH band -> SRP_BITS/SRP_BAND_BITS bands
# Band sizing is the candidate-volume dial: a random (orthogonal-ish)
# pair collides in a band with ~(1/2)^SRP_BAND_BITS probability, so
# 8-bit bands pass ~4/256 ≈ 1.6% of all pairs as candidates where the
# old 4-bit bands passed ~4/16 ≈ 25% (measured 466k of 2M pairs at
# sf0.1 — barely better than brute force). True near-dups (cosine
# ≥ 0.95) still collide in ≥1 of the 4 bands w.p. ≈ 0.99.
SRP_DIM = 64  # embedding dimensionality of the corpus


def srp_weights(bit: int, dim: int = SRP_DIM) -> list[int]:
    """The ±1 hyperplane for signature bit ``bit`` (md5-parity seeded,
    identical in any engine)."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"srp:{bit}:{d}".encode()).hexdigest()
        out.append(1 if int(h[:8], 16) % 2 == 0 else -1)
    return out


def srp_band_col(units: Column, band: int) -> Column:
    """Integer value of LSH band ``band``: SRP_BAND_BITS sign bits of
    hyperplane dot products, packed little-endian. Sign convention:
    bit = 1 iff dot >= 0 (ties to 1, identically in the oracle)."""
    val = F.lit(0)
    for j in range(SRP_BAND_BITS):
        bit = band * SRP_BAND_BITS + j
        w = F.array(*[F.lit(x) for x in srp_weights(bit)])
        dot = F.aggregate(
            F.zip_with(units, w, lambda u, s: u * s),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        val = val + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return val.cast("int")


def srp_bands_pandas(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """All SRP band values per vector in ONE Arrow-vectorized pass:
    an int64 numpy matmul against the (dim x SRP_BITS) ±1 hyperplane
    matrix, sign bits packed per band. Value-identical to evaluating
    ``srp_band_col`` per band (pinned in tests) — the difference is
    cost: SRP_BITS interpreted higher-order-function dot products per
    row (HOFs never enter whole-stage codegen) become one C-loop
    batch matmul, which is the shape this engine wants per-row wide
    math in at 100 TB.

    Input needs ``id_col``, ``units`` and ``norm2``; output is the
    exploded (id, units, norm2, band_idx, band_val) band table the
    LSH bucket join consumes."""
    import numpy as np
    import pandas as pd

    w = np.array(
        [srp_weights(bit) for bit in range(SRP_BITS)], dtype=np.int64
    ).T  # (dim, SRP_BITS)
    n_bands = SRP_BITS // SRP_BAND_BITS
    schema = (
        f"{id_col} bigint, units array<bigint>, norm2 bigint, "
        "band_idx int, band_val int"
    )

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            units = np.array(list(pdf["units"]), dtype=np.int64)  # (rows, dim)
            bits = (units @ w) >= 0  # (rows, SRP_BITS); ties -> 1, as in srp_band_col
            packer = np.array(
                [1 << j for j in range(SRP_BAND_BITS)], dtype=np.int64
            )
            out = []
            for b in range(n_bands):
                vals = bits[:, b * SRP_BAND_BITS : (b + 1) * SRP_BAND_BITS] @ packer
                out.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy(),
                            "units": pdf["units"],
                            "norm2": pdf["norm2"].to_numpy(),
                            "band_idx": np.full(len(pdf), b, dtype=np.int32),
                            "band_val": vals.astype(np.int32),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return df.select(id_col, "units", "norm2").mapInPandas(batches, schema=schema)


def cosine_verify_pandas(cand: DataFrame, tau: float) -> DataFrame:
    """Exact fixed-point cosine for a candidate-pair frame carrying
    ``units_a/units_b/norm2_a/norm2_b`` — as one Arrow-batched numpy
    pass (int64 row-wise dot then one vectorized divide) instead of an
    interpreted zip_with+aggregate per pair. Value-identical to
    ``cosine_fixed`` on nonzero norms (int64 matmul == JVM long fold;
    the divide is one IEEE double op either way) — pinned in tests.

    Zero-norm guard (same contract as the other pandas paths): a zero
    vector's cosine is NaN and it is never a near-dup — where the
    ANSI-mode JVM division would abort the whole job instead."""
    import numpy as np
    import pandas as pd

    schema = "id_a bigint, id_b bigint, cosine double, is_near_dup boolean"

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            ua = np.array(list(pdf["units_a"]), dtype=np.int64)
            ub = np.array(list(pdf["units_b"]), dtype=np.int64)
            dot = np.einsum("ij,ij->i", ua, ub)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot.astype(np.float64) / (
                    np.sqrt(pdf["norm2_a"].to_numpy(dtype=np.float64))
                    * np.sqrt(pdf["norm2_b"].to_numpy(dtype=np.float64))
                )
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy(),
                    "id_b": pdf["id_b"].to_numpy(),
                    "cosine": cos,
                    "is_near_dup": cos >= tau,
                }
            )

    return cand.select(
        "id_a", "id_b", "units_a", "units_b", "norm2_a", "norm2_b"
    ).mapInPandas(batches, schema=schema)


def sql_srp_band_expr(units_expr: str, band: int) -> str:
    """The DuckDB rendering of ``srp_band_col`` — same planes, same
    packing, generated from the same weight source."""
    terms = []
    for j in range(SRP_BAND_BITS):
        bit = band * SRP_BAND_BITS + j
        w = "[" + ", ".join(str(x) for x in srp_weights(bit)) + "]"
        dot = (
            f"CAST(list_sum(list_transform(list_zip({units_expr}, {w}), "
            f"z -> z[1] * z[2])) AS BIGINT)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


# --- IVF index persistence (build once, query many) ----------------


def save_ivf_index(spark: SparkSession, centroids, path: str) -> None:
    """Persist a trained coarse quantizer as a tiny parquet table
    (cell_id, centroid units) — the build-once artifact a production
    ANN service loads instead of retraining per query job. k*dim
    integers: always a broadcast-sized read."""
    rows = [(int(c), [int(x) for x in v]) for c, v in centroids]
    spark.createDataFrame(rows, "cell INT, centroid ARRAY<BIGINT>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def load_ivf_index(spark: SparkSession, path: str):
    """Load the centroid list saved by save_ivf_index, in the
    [(cell_id, np.int64[dim])] shape every probe/assign helper takes."""
    import numpy as np

    rows = spark.read.parquet(path).orderBy("cell").collect()
    return [(int(r["cell"]), np.asarray(r["centroid"], dtype=np.int64)) for r in rows]


def assign_cells(df: DataFrame, centroids, id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Assign NEW vectors to their nearest existing centroid — the
    incremental-ingest half of a persisted IVF index: identical argmin
    (exact int64 squared L2, ties to the lowest cell id) as training-
    time assignment, so an incrementally ingested vector lands in the
    same cell a full rebuild would put it in (pinned in tests). One
    Arrow pass, centroid matrix by closure; no shuffle."""
    base = with_units_and_norm(df.select(id_col, emb_col), emb_col).select(
        id_col, "units", "norm2"
    )
    return _assign_units(base, centroids, id_col)


def _assign_units(base: DataFrame, centroids, id_col: str) -> DataFrame:
    """The assignment pass over a (id, units, norm2) frame: one Arrow
    pass of ``_argmin_cells`` per batch, adding ``cell``. Takes the
    frame rather than the embeddings so ``kmeans_units`` reuses the one
    it built for training; analyzing a second copy of the units plan
    measured ~0.1-0.3 s of Spark-driver time per query at sf0.1 on 4
    cores."""
    import numpy as np

    cell_ids = np.array([c for c, _ in centroids], dtype=np.int64)
    C = np.stack([v for _, v in centroids])

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(cell=pd.Series([], dtype="int32"))
                continue
            U = _units_matrix(pdf["units"])
            yield pdf.assign(cell=_argmin_cells(U, C, cell_ids).astype("int32"))

    schema = f"{id_col} BIGINT, units ARRAY<BIGINT>, norm2 BIGINT, cell INT"
    return base.mapInPandas(fn, schema)


def neardup_min_earlier_pandas(
    df: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Within-cell near-duplicate resolution as one numpy pass per
    cell: for every vector, the LOWEST earlier id whose exact
    fixed-point cosine reaches ``tau`` (or NULL). Same contract as the
    join+filter+min-aggregate formulation (the DuckDB oracle's shape)
    — the win is replacing an interpreted HOF cosine per within-cell
    pair with one ``_first_earlier_hit`` scan per cell, exactly like
    semdedup_verdicts_pandas. Cells must fit one task (IVF sizing).

    NULL cell labels match NOTHING (join semantics — groupBy would
    wrongly pool them into one pseudo-cell): NULL-labelled vectors are
    split off and emitted as kept (dup_of NULL), identical to the
    join+filter formulation and the oracle."""
    import numpy as np
    import pandas as pd

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy())
        ids = pdf[id_col].to_numpy()[order]
        first = _first_earlier_hit(_units_np(pdf[emb_col])[order], tau)
        return pd.DataFrame(
            {id_col: ids, "dup_of": pd.arrays.IntegerArray(ids[first], first < 0)}
        )

    base = df.select(id_col, emb_col, cell_col)
    labelled = (
        base.filter(F.col(cell_col).isNotNull())
        .groupBy(cell_col)
        .applyInPandas(per_cell, f"{id_col} BIGINT, dup_of BIGINT")
    )
    unlabelled = base.filter(F.col(cell_col).isNull()).select(
        F.col(id_col), F.lit(None).cast("bigint").alias("dup_of")
    )
    return labelled.unionByName(unlabelled)
