"""Block all-pairs cosine (operators/allpairs.py): exact equivalence with a
local brute-force computation, including cross-block pair-order normalization
and the zero-dot exclusion."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.vectors import COS_ROUND
from tf_idf_using_mapreduce_spark.operators.allpairs import cosine_topk_pairs


def _make_vecs(spark, n=60, d=7, seed=5):
    rng = np.random.RandomState(seed)
    mat = np.round(rng.randn(n, d), 3)
    # sparsify so some pairs have an exactly-zero dot product
    mat[:, : d // 2] *= rng.rand(n, d // 2) > 0.5
    mat[5] = 0 * mat[5]
    mat[5, 0] = 1.0
    mat[7] = 0 * mat[7]
    mat[7, 1] = 1.0  # docs 5 and 7 share no dimension -> excluded pair
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, vec array<double>").withColumn(
        "nrm", F.expr("sqrt(aggregate(zip_with(vec, vec, (x, y) -> x * y),"
                      " cast(0 as double), (acc, x) -> acc + x))")
    )
    return df, mat


def _brute_topk(mat, top_pairs):
    n = mat.shape[0]
    nrm = np.sqrt((mat * mat).sum(axis=1))
    out = []
    for a, b in itertools.combinations(range(n), 2):
        dot = float(mat[a] @ mat[b])
        if dot == 0.0:
            continue
        out.append((a, b, round(dot / (nrm[a] * nrm[b]), COS_ROUND)))
    out.sort(key=lambda t: (-t[2], t[0], t[1]))
    return out[:top_pairs]


@pytest.mark.parametrize("n_blocks", [1, 4])
def test_matches_bruteforce(spark, n_blocks):
    df, mat = _make_vecs(spark)
    got = cosine_topk_pairs(df, 15, n_blocks=n_blocks).collect()
    want = _brute_topk(mat, 15)
    assert [(r.id_a, r.id_b, r.cos_sim) for r in got] == want


def test_zero_dot_pairs_excluded(spark):
    df, mat = _make_vecs(spark, n=10)
    # ask for more pairs than exist so the exclusion is observable
    got = cosine_topk_pairs(df, 1000, n_blocks=3).collect()
    assert all(not (r.id_a == 5 and r.id_b == 7) for r in got)
    n_expected = len(_brute_topk(mat[:10], 1000))
    assert len(got) == n_expected


def test_output_ids_ordered(spark):
    df, _ = _make_vecs(spark, n=40)
    got = cosine_topk_pairs(df, 40, n_blocks=4).collect()
    assert all(r.id_a < r.id_b for r in got)
