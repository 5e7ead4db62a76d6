"""Vector math over ``array<float>`` embedding columns: how a cosine is
computed, rounded and ranked, in Spark, DuckDB and numpy.

The one rule: cosine = dot/(‖a‖·‖b‖), rounded at ``COS_ROUND`` BEFORE any
ranking or threshold, ties to the lowest id.

- **Spark / DuckDB.** Spark has no native cosine; the engine builds it from
  higher-order functions (``zip_with`` + ``aggregate``) — whole-stage codegen,
  no UDF. Elements are cast to double BEFORE any arithmetic and folds run
  left-to-right, matching DuckDB's ``list_dot_product`` evaluation order so
  the oracle's floats agree to the last bit. :func:`spark_cos` and
  :func:`duck_cos` are the rounded cosine in each dialect.
- **numpy kernels** (pure numpy, run inside the Arrow-batched Python tasks
  of ``operators/allpairs.py`` and ``operators/similarity.py``): callers
  supply the dot products (BLAS ``A @ B.T`` or an exact-order fold, their
  choice) and keep only their own masks and outputs. :func:`cos_tiles`
  streams a big tile in ``TILE_ROWS``-row slabs, :func:`nearest_anchor` is
  the rounded argmax over anchors and :func:`best_per_row` the rounded 1-NN.
  ``np.round`` rounds half-to-even on the binary value where SQL ``round``
  is HALF_UP on the decimal one; the two differ only on exact decimal ties,
  pinned by ``tests/test_similarity.py::test_cos_rounding_pin``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

COS_ROUND = 4
# rows per slab of a chunked cosine tile: each 1024 × n slab stays
# cache-warm instead of streaming a full n × n matrix from DRAM per pass
TILE_ROWS = 1024

# Spark-side expressions (column names interpolated)
CAST_DOUBLE = "transform({v}, x -> cast(x as double))"
DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)"


def spark_dot(a: str, b: str) -> str:
    return DOT.format(a=a, b=b)


def spark_norm(v: str) -> str:
    return f"sqrt({DOT.format(a=v, b=v)})"


def spark_cos(a: str, b: str, na: str, nb: str) -> Column:
    """The rounded cosine of vector columns ``a``, ``b`` with norm columns
    ``na``, ``nb``."""
    return F.round(F.expr(spark_dot(a, b)) / (F.col(na) * F.col(nb)), COS_ROUND)


# DuckDB twins
def duck_cast_double(v: str) -> str:
    return f"list_transform({v}, x -> CAST(x AS DOUBLE))"


def duck_dot(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


def duck_norm(v: str) -> str:
    return f"sqrt(list_dot_product({v}, {v}))"


def duck_cos(a: str, b: str, na: str, nb: str) -> str:
    return f"round({duck_dot(a, b)} / ({na} * {nb}), {COS_ROUND})"


# numpy kernels
def cos_quotient(dots, na, nb):
    """Raw cosine matrix ``dots[i, j] / (na[i]·nb[j])``."""
    return dots / np.outer(na, nb)


def cos_round(raw):
    """The one numpy rounding step: a raw cosine rounded at ``COS_ROUND``."""
    return np.round(raw, COS_ROUND)


def cos_tile(A, B, na, nb):
    """(raw, rounded) cosine matrix of the rows of ``A`` against the rows of
    ``B`` — raw for structural-zero tests, rounded for ranking."""
    raw = cos_quotient(A @ B.T, na, nb)
    return raw, cos_round(raw)


def cos_tiles(A, B, na, nb):
    """:func:`cos_tile` in ``TILE_ROWS``-row slabs of ``A``: yields
    (i0, raw, rounded) for rows ``i0:i0 + TILE_ROWS``. Only the GEMM's row
    dimension is split (the summed dimension is intact), so every element
    equals the unchunked tile's."""
    for i0 in range(0, len(A), TILE_ROWS):
        s = slice(i0, i0 + TILE_ROWS)
        yield (i0, *cos_tile(A[s], B, na[s], nb))


def nearest_anchor(dots, na, an):
    """(cid, aff): per row, the anchor with the highest rounded cosine and
    that cosine; ties go to the lowest cid (``argmax`` returns the first
    maximum, and anchor columns are cid-ordered)."""
    C = cos_round(cos_quotient(dots, na, an))
    cid = C.argmax(axis=1)
    return cid, C[np.arange(len(C)), cid]


def best_per_row(M, col_ids):
    """(ok, nn, cos): per row of a rounded cosine matrix whose invalid cells
    are ``-inf``, the max cosine and, among the columns at that max, the
    smallest id. ``ok`` marks the rows with at least one valid column;
    ``nn`` and ``cos`` cover those rows only."""
    mx = M.max(axis=1)
    ok = mx != -np.inf
    tie = M[ok] == mx[ok][:, None]
    nn = np.where(tie, col_ids[None, :], np.iinfo(np.int64).max).min(axis=1)
    return ok, nn, mx[ok]
