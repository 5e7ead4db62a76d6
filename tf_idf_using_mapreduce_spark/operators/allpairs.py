"""Exact all-pairs cosine top-k via replication-based block matrix multiply —
the engine's generic dense-similarity operator (used by
``tfidf_doc_similarity`` and reusable over any bounded-dimension vector table).

Why not a join? Spark can express all-pairs cosine as (a) a term equi-join
(round 1: O(Σ per-term df²) pair-term rows — 112 s at sf0.1 because the
top-100 DF vocabulary is by construction the hottest terms), or (b) a
broadcast nested-loop self-join with a per-pair dot expression — but a
100-term unrolled dot falls out of whole-stage codegen (huge-method limit)
into interpreted eval (~40 µs/pair measured: ~530 s for the 12.5 M pairs at
sf0.1), and a higher-order-function fold pays a per-element closure. Dense
exact similarity is BLAS-shaped work, so this is one of the few places the
engine deliberately drops to Arrow-batched Python (`applyInPandas`), per the
"built-ins genuinely can't express it efficiently" rule.

Physical shape (the 100-TB design, not just the local one):

1. each (id, vec) row gets a block id ``b = crc32(id) % P``;
2. the row is REPLICATED to every tile it participates in: as the left operand
   of tiles (b, j≥b) and the right operand of tiles (i<b, b) — ONE shuffle of
   n × (P+1)/2 rows total, no n² intermediate;
3. ``groupBy(tile).applyInPandas`` multiplies the ≤(n/P)² tile with numpy
   (`A @ B.T` — vectorized, cache-blocked BLAS) in ``TILE_ROWS``-row slabs
   through the shared kernels of ``functions/vectors.py`` (``cos_tiles``
   rounds at ``COS_ROUND``, ``best_per_row`` ranks with ties to the lowest
   id) and emits only the tile-local top-k pairs, or each row's best;
4. the global top-k over ≤ tiles×k candidate rows is a
   ``TakeOrderedAndProject``.

Wall-clock scales as n²·d/P FLOPs spread over P·(P+1)/2 independent tasks;
memory per task is two (n/P)×d tiles. Pick P ≈ n·d·8 / (executor-task
memory budget) — the operator stays exact at any corpus size, but beyond
~10⁶–10⁷ vectors quadratic FLOPs dominate and the LSH/IVF candidate routes
(``operators/dedup.py``, ``operators/similarity.py``) are the intended path;
this operator is their exact oracle and the bounded-n workhorse.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.vectors import (
    TILE_ROWS,
    best_per_row,
    cos_tiles,
)

DEFAULT_BLOCKS = 8


def _replicated(vecs: DataFrame, id_col: str, vec_col: str, nrm_col: str,
                P: int) -> DataFrame:
    """(bi, bj, id, v, nrm, is_left): every row copied to each tile it joins
    — as the left operand of tiles (b, j≥b) and the right operand of tiles
    (i<b, b), where ``b = crc32(id) % P``."""
    tagged = vecs.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col(nrm_col).alias("nrm")
    ).withColumn("b", F.pmod(F.crc32(F.col("id").cast("string")), F.lit(P)).cast("int"))
    left = tagged.select(
        F.explode(
            F.expr(f"transform(sequence(b, {P - 1}), j -> named_struct('bi', b, 'bj', j))")
        ).alias("k"),
        "id", "v", "nrm", F.lit(True).alias("is_left"),
    )
    right = tagged.where(F.col("b") > 0).select(
        F.explode(
            F.expr("transform(sequence(0, b - 1), i -> named_struct('bi', i, 'bj', b))")
        ).alias("k"),
        "id", "v", "nrm", F.lit(False).alias("is_left"),
    )
    return left.unionByName(right).select(
        F.col("k.bi").alias("bi"), F.col("k.bj").alias("bj"), "id", "v", "nrm", "is_left"
    )


def _tile_operands(key: tuple, pdf: pd.DataFrame):
    """(same, a_ids, b_ids, A, B, an, bn) for one tile's rows, or ``None``
    when a side is empty. ``same``: a diagonal tile, whose right side is its
    left side."""
    same = int(key[0]) == int(key[1])
    lf = pdf[pdf["is_left"]]
    rf = lf if same else pdf[~pdf["is_left"]]
    if lf.empty or rf.empty:
        return None
    A = np.stack(lf["v"].to_numpy())
    an = lf["nrm"].to_numpy()
    if same:
        B, bn = A, an
    else:
        B, bn = np.stack(rf["v"].to_numpy()), rf["nrm"].to_numpy()
    return same, lf["id"].to_numpy(), rf["id"].to_numpy(), A, B, an, bn


def cosine_topk_pairs(
    vecs: DataFrame,
    top_pairs: int,
    id_col: str = "doc_id",
    vec_col: str = "vec",
    nrm_col: str = "nrm",
    n_blocks: int = DEFAULT_BLOCKS,
) -> DataFrame:
    """(id_a, id_b, cos_sim): the global ``top_pairs`` most-similar distinct
    pairs (id_a < id_b) by cosine, exact, over rows of (id, vector, norm).

    Pairs with an exactly-zero dot product (no shared nonzero dimension) are
    excluded, matching the sparse term-join semantics. ``cos_sim`` is rounded
    at ``COS_ROUND`` BEFORE ranking; ties break on (id_a, id_b) ascending, so
    the result is deterministic and engine-portable.
    """
    repl = _replicated(vecs, id_col, vec_col, nrm_col, n_blocks)

    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cos_sim": pd.Series(dtype="float64")})
        ops = _tile_operands(key, pdf)
        if ops is None:
            return empty
        same, a_ids, b_ids, A, B, an, bn = ops
        # Tile-local top-k per TILE_ROWS slab (cos_tiles), never the full
        # (n/P)² matrix: the sf1.0 sweep measured 7.4 s/tile for the full
        # form against 0.8 s chunked. Each slab keeps its own >=threshold
        # candidates (ties at the cut included); any pair in the tile top-k
        # is in its slab's top-k, so merging slab candidates stays exact.
        parts = []
        for i0, Sc, C in cos_tiles(A, B, an, bn):
            rows = a_ids[i0:i0 + TILE_ROWS]
            if same:
                # same row set on both sides: keep each unordered pair once
                mask = (rows[:, None] < b_ids[None, :]) & (Sc != 0.0)
            else:
                # disjoint blocks: every unordered pair appears in exactly
                # this tile; order is normalized below
                mask = Sc != 0.0
            if not mask.any():
                continue
            C[~mask] = -np.inf
            flat = C.ravel()
            k = min(top_pairs, flat.size)
            thr = np.partition(flat, flat.size - k)[flat.size - k]
            if thr == -np.inf:
                cand = mask  # fewer than k real pairs: take them all
            else:
                cand = C >= thr
            ia, ib = np.nonzero(cand)
            if ia.size == 0:
                continue
            parts.append((rows[ia], b_ids[ib], C[ia, ib]))
        if not parts:
            return empty
        ga = np.concatenate([p[0] for p in parts])
        gb = np.concatenate([p[1] for p in parts])
        cos = np.concatenate([p[2] for p in parts])
        id_a = np.minimum(ga, gb)
        id_b = np.maximum(ga, gb)
        order = np.lexsort((id_b, id_a, -cos))[:top_pairs]
        return pd.DataFrame(
            {"id_a": id_a[order], "id_b": id_b[order], "cos_sim": cos[order]}
        )

    candidates = repl.groupBy("bi", "bj").applyInPandas(
        tile, "id_a long, id_b long, cos_sim double"
    )
    return (
        candidates.orderBy(F.desc("cos_sim"), F.asc("id_a"), F.asc("id_b"))
        .limit(top_pairs)
    )


def cosine_nn1(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    nrm_col: str = "nrm",
    n_blocks: int = DEFAULT_BLOCKS,
) -> DataFrame:
    """(id, nn_id, cos_sim): each row's EXACT nearest neighbor by cosine
    (excluding self; zero-dot pairs excluded per the file's sparse-join
    convention; rows with no nonzero-dot neighbor are absent). Same
    replication/tile machinery as :func:`cosine_topk_pairs`, but each tile
    emits the tile-local best neighbor FOR EVERY ROW on both of its sides
    (O(n·P) candidate rows total, not O(n²)), and the global argmax is a
    per-id window over ≤ P candidates. Deterministic: cosine rounded
    before ranking, ties break on nn_id ascending."""
    from pyspark.sql import Window

    repl = _replicated(vecs, id_col, vec_col, nrm_col, n_blocks)

    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ops = _tile_operands(key, pdf)
        if ops is None:
            return pd.DataFrame({"id": pd.Series(dtype="int64"),
                                 "nn_id": pd.Series(dtype="int64"),
                                 "cos_sim": pd.Series(dtype="float64")})
        same, a_ids, b_ids, A, B, an, bn = ops
        # Per slab, each left row's best is final (it lives in one slab);
        # on an off-diagonal tile the right side's rows also need the
        # column view (C.T), and their per-slab bests are folded below.
        ids, nns, coss = [], [], []
        for i0, Sc, C in cos_tiles(A, B, an, bn):
            rows = a_ids[i0:i0 + TILE_ROWS]
            valid = (Sc != 0.0) & (rows[:, None] != b_ids[None, :])
            C[~valid] = -np.inf
            sides = [(rows, C, b_ids)]
            if not same:
                sides.append((b_ids, C.T, rows))
            for row_ids, M, col_ids in sides:
                ok, nn, cos = best_per_row(M, col_ids)
                ids.append(row_ids[ok]); nns.append(nn); coss.append(cos)
        df = pd.DataFrame({"id": np.concatenate(ids).astype("int64"),
                           "nn_id": np.concatenate(nns).astype("int64"),
                           "cos_sim": np.concatenate(coss).astype("float64")})
        if not same and len(a_ids) > TILE_ROWS:
            # fold the per-slab bests of the right side's rows (left-side
            # rows appear in exactly one slab, right-side rows in all)
            df = (df.sort_values(["id", "cos_sim", "nn_id"],
                                 ascending=[True, False, True])
                  .drop_duplicates("id", keep="first"))
        return df

    candidates = repl.groupBy("bi", "bj").applyInPandas(
        tile, "id long, nn_id long, cos_sim double"
    )
    w = Window.partitionBy("id").orderBy(F.desc("cos_sim"), F.asc("nn_id"))
    return (
        candidates.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("id", "nn_id", "cos_sim")
    )


__all__: Iterable[str] = ["cosine_topk_pairs", "cosine_nn1", "DEFAULT_BLOCKS"]
