"""Two-level (hierarchical) coarse quantizer — the linear-at-build
IVF routing path (the IMI / coarse-tree idea: Babenko & Lempitsky
2012; FAISS's IVF-with-HNSW-coarse), re-expressed with the engine's
exactness contract so the DuckDB oracle replays routing bit-for-bit.

WHY IT EXISTS (SCALE.md embedding decade): flat IVF assignment is
O(n * k * dim) with k = n/target — O(n^2) in flops by construction,
measured as the declared-design build row at 5M vectors. Two-level
routing visits ~sqrt(k) parents then ~k/sqrt(k) children instead of
all k cells: build flops drop to O(n * 2*sqrt(k) * dim) — 50x fewer
at k = 10k — at the price of APPROXIMATE cell membership (a vector
may land in a near-optimal child rather than the global-nearest; the
same trade every production coarse tree makes). It is therefore a
SEPARATE operator with its own cells, not a rewrite of
``kmeans_units`` (whose exact-argmin assignment stays the reference
quantizer and the semantic-dedup substrate).

Model — every step integer or IEEE-exact, no training iterations
(the seed-quantizer variant, standard for IVF coarse levels):

- children: the first ``k`` vectors in ``(portable_hash31(vec_id),
  vec_id)`` order — the engine's deterministic order-free sample;
  child cell id = position in that order (0..k-1);
- parents: the first ``k1 = floor(sqrt(k))`` of the SAME order (a
  prefix of the children — every parent is its own nearest child at
  distance 0 in the common distinct-seed case);
- child -> parent: exact int64 squared-L2 argmin over parents, ties
  to the lowest parent id;
- parents that end up with no children (possible only under
  duplicate seed vectors) are dropped from routing, exactly like
  empty k-means cells;
- vector routing: argmin over (live) parents, then argmin over that
  parent's children; ties to the lowest id at both levels. The cell
  is the child id.

Search over the routed cells reuses the flat path's kernels
(``topk_units_cells_pandas``) unchanged — same output schema. Routing
uses the flat path's exact primitives too: ``_argmin_cells`` for
single-cell routing and ``_nearest_cells`` for the multi-probe ranking,
both with lowest-id ties.

Scale: the seed collect is k rows of dim int64 (bounded metadata,
the kmeans_units pattern); routing is one mapInPandas streaming pass
whose temporaries are (batch, k1) and (batch-slice, children-of-one-
parent) — both sqrt(k)-sized, chunk-recycled (the hot-cell
discipline). No shuffle in the build at all until the search stage's
single cell-keyed exchange.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from martian_moments_spark.llmops.similarity import (
    _argmin_cells,
    _nearest_cells,
    _units_matrix,
    with_units_and_norm,
)
from martian_moments_spark.llmops.textops import portable_hash31


def _hier_model(base: DataFrame, k: int, id_col: str = "vec_id"):
    """Build the two-level seed model shared by single-cell and
    multi-probe routing: hash-ordered seed children, the sqrt-prefix
    parents, the exact child->parent argmin, and the live-parent
    bookkeeping. One bounded collect of k seed rows (the kmeans_units
    metadata pattern)."""
    import numpy as np

    seed_rows = (
        base.withColumn("__h", portable_hash31(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(k)
        .select("units")
        .collect()
    )
    S = _units_matrix(r[0] for r in seed_rows)
    k_eff = len(S)
    k1 = max(1, int(math.floor(math.sqrt(k_eff))))
    P = S[:k1]
    child_parent = _argmin_cells(S, P, np.arange(k1))
    live = np.unique(child_parent)  # parents that own >= 1 child (all, absent dup seeds)
    P_live = P[live]
    children_of = {int(p): np.flatnonzero(child_parent == p) for p in live}
    return S, k_eff, k1, live, P_live, children_of


def hier_route_units(df: DataFrame, k: int, id_col: str = "vec_id", emb_col: str = "embedding"):
    """Route every vector of (id, embedding) through the two-level
    seed quantizer. Returns ``(assigned_df, n_children, k1)`` where
    assigned_df carries (id, units, norm2, cell) — the kmeans_units
    output contract, so every search kernel composes unchanged."""
    import numpy as np

    base = with_units_and_norm(df.select(id_col, emb_col), emb_col).select(
        id_col, "units", "norm2"
    )
    S, k_eff, k1, live, P_live, children_of = _hier_model(base, k, id_col)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(cell=pd.Series([], dtype="int32"))
                continue
            U = _units_matrix(pdf["units"])
            p_idx = _argmin_cells(U, P_live, live)
            cell = np.empty(len(U), dtype=np.int64)
            for p in np.unique(p_idx):
                rows = np.flatnonzero(p_idx == p)
                kids = children_of[int(p)]
                cell[rows] = _argmin_cells(U[rows], S[kids], kids)
            yield pdf.assign(cell=cell.astype("int32"))

    schema = f"{id_col} BIGINT, units ARRAY<BIGINT>, norm2 BIGINT, cell INT"
    return base.mapInPandas(fn, schema), k_eff, k1


def hier_probe_route_units(
    df: DataFrame,
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
):
    """Multi-probe routing through the two-level quantizer — the IMI
    probe dial: each vector visits its ``min(n_probe, #live)`` nearest
    parents (exact int64 distance, ties to the lowest parent id), then
    probes the ``n_probe`` nearest CHILD cells among those parents'
    children (ties to the lowest child id). Returns ``(probed_df,
    n_children, k1)`` where probed_df carries one row per (vector,
    probe_cell) — the ``probe_cells`` output contract, so the flat
    path's ``topk_units_probed`` search composes unchanged.

    Recall/cost: n_probe=1 reduces exactly to ``hier_route_units``'s
    cell (same argmin chain); n_probe >= k visits every parent and
    therefore every child — brute force. In between, routing cost is
    O(#live + n_probe*sqrt(k)) distances per vector, and search cost
    grows linearly with the probed-cell mass (test_ann_recall.py pins
    the resulting recall floors).

    Scale: same shuffle-free mapInPandas pass as single-cell routing;
    per-batch temporaries are (batch, #live) and per-parent-combo
    (rows, union-children) blocks — both sqrt(k)-scaled. Rows sharing
    the same selected-parent set are routed as one vectorized block,
    so the python loop runs per distinct combo, not per row."""
    import numpy as np

    base = with_units_and_norm(df.select(id_col, emb_col), emb_col).select(
        id_col, "units", "norm2"
    )
    S, k_eff, k1, live, P_live, children_of = _hier_model(base, k, id_col)
    np_par = min(n_probe, len(live))

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(probe_cells=pd.Series([], dtype=object))
                continue
            U = _units_matrix(pdf["units"])
            # (m, np_par) nearest parent ids, as a sorted set per row
            sel = np.sort(_nearest_cells(U, P_live, live, np_par), axis=1)
            probes = [None] * len(U)
            combos, inv = np.unique(sel, axis=0, return_inverse=True)
            for ci in range(len(combos)):
                rows = np.flatnonzero(inv == ci)
                kids = np.unique(
                    np.concatenate([children_of[int(p)] for p in combos[ci]])
                )
                near = _nearest_cells(U[rows], S[kids], kids, min(n_probe, len(kids)))
                for r, row in enumerate(rows):
                    probes[row] = near[r].astype("int64")
            yield pdf.assign(probe_cells=probes)

    schema = (
        f"{id_col} BIGINT, units ARRAY<BIGINT>, norm2 BIGINT, "
        "probe_cells ARRAY<BIGINT>"
    )
    out = base.mapInPandas(fn, schema)
    probed = out.withColumn("probe_cell", F.explode("probe_cells")).drop("probe_cells")
    return probed, k_eff, k1


def sql_hier_ctes(
    units_sql: str,
    hash_sql: str,
    k: str,
    table: str = "embeddings",
    id_col: str = "vec_id",
) -> str:
    """DuckDB CTE chain replaying hier_route_units exactly, ending in
    ``hassign(vec_id, units, norm2, cell)`` — the kassign contract, so
    search CTEs compose unchanged. ``k`` is a SQL scalar-subquery
    string (the corpus-scaled cell count). Distances are the same
    exact int64 squared-L2; both argmin levels tie toward the lowest
    id via ROW_NUMBER order."""
    d = "CAST(list_sum(list_transform(list_zip({a}, {b}), z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
    return f"""hunits AS (
            SELECT {id_col} AS vec_id, {units_sql} AS units,
                   CAST(list_sum(list_transform(list_zip({units_sql}, {units_sql}),
                        z -> z[1] * z[2])) AS BIGINT) AS norm2
            FROM {table}
        ), hseeds AS (
            SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS child, units
            FROM (
                SELECT {hash_sql} AS h, {id_col} AS vec_id, {units_sql} AS units
                FROM {table}
                ORDER BY {hash_sql}, {id_col} LIMIT {k}
            )
        ), hk1 AS (
            SELECT GREATEST(1, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS k1
            FROM hseeds
        ), hparents AS (
            SELECT child AS parent, units FROM hseeds
            WHERE child < (SELECT k1 FROM hk1)
        ), hcp AS (
            SELECT child, parent FROM (
                SELECT s.child, p.parent,
                       ROW_NUMBER() OVER (PARTITION BY s.child
                           ORDER BY {d.format(a="s.units", b="p.units")}, p.parent) AS rn
                FROM hseeds s CROSS JOIN hparents p
            ) WHERE rn = 1
        ), hlive AS (
            SELECT DISTINCT parent FROM hcp
        ), hroute1 AS (
            SELECT vec_id, parent FROM (
                SELECT v.vec_id, p.parent,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {d.format(a="v.units", b="p.units")}, p.parent) AS rn
                FROM hunits v
                CROSS JOIN (SELECT hp.parent, hp.units FROM hparents hp
                            JOIN hlive USING (parent)) p
            ) WHERE rn = 1
        ), hassign AS (
            SELECT vec_id, units, norm2, CAST(cell AS INT) AS cell FROM (
                SELECT v.vec_id, v.units, v.norm2, s.child AS cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {d.format(a="v.units", b="s.units")}, s.child) AS rn
                FROM hunits v
                JOIN hroute1 r USING (vec_id)
                JOIN hcp cp ON cp.parent = r.parent
                JOIN hseeds s ON s.child = cp.child
            ) WHERE rn = 1
        )"""
