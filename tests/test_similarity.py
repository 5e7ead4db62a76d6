"""Similarity search: oracle parity, LSH recall vs brute force, MLlib twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, assert_query_matches_oracle
from tf_idf_using_mapreduce_spark.operators import similarity as sim


@pytest.mark.parametrize(
    "name",
    ["ann_topk_bruteforce", "ann_topk_lsh", "ann_topk_ivf", "dedup_embedding_cosine"],
)
def test_oracle_parity(spark, name):
    assert_query_matches_oracle(spark, name)


def test_lsh_results_subset_of_corpus_ranking(spark):
    """Sign-LSH neighbors are real vectors with correctly computed cosines:
    every (query, neighbor, cos) it reports must appear in the brute-force
    scoring with the same cosine."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in sim.ann_topk_bruteforce(spark, SF_SMOKE, k=10**6).collect()
    }
    for r in sim.ann_topk_lsh(spark, SF_SMOKE).collect():
        key = (r["query_id"], r["neighbor_id"])
        assert key in brute and brute[key] == r["cos_sim"], (r, brute.get(key))


def test_lsh_recall_at_5(spark):
    """Multi-probe (hamming ≤ 2) sign-LSH keeps a usable share of true top-5
    neighbors even on the near-orthogonal fixture vectors (top-neighbor
    cos ≈ 0.4 ⇒ per-bit agreement ≈ 0.63 ⇒ P(≤2 of 8 bits differ) ≈ 0.38)."""
    brute = sim.ann_topk_bruteforce(spark, SF_SMOKE).collect()
    lsh = sim.ann_topk_lsh(spark, SF_SMOKE).collect()
    true_sets = {}
    for r in brute:
        true_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got_sets = {}
    for r in lsh:
        got_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(true_sets[q] & got_sets.get(q, set())) for q in true_sets)
    total = sum(len(s) for s in true_sets.values())
    assert hits / total >= 0.2, (hits, total)


def test_ivf_results_subset_of_corpus_ranking(spark):
    """IVF neighbors are real vectors with correctly computed cosines (same
    contract as the sign-LSH variant: approximation may MISS pairs, never
    invent or mis-score them)."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in sim.ann_topk_bruteforce(spark, SF_SMOKE, k=10**6).collect()
    }
    for r in sim.ann_topk_ivf(spark, SF_SMOKE).collect():
        key = (r["query_id"], r["neighbor_id"])
        assert key in brute and brute[key] == r["cos_sim"], (r, brute.get(key))


def test_ivf_recall_at_5(spark):
    """nprobe=4 of 16 cells keeps a usable share of true top-5 neighbors even
    on the near-orthogonal fixture (cells are nearly random there — natural
    clustered embeddings do far better; measured 0.56 at sf0.01)."""
    brute = sim.ann_topk_bruteforce(spark, SF_SMOKE).collect()
    ivf = sim.ann_topk_ivf(spark, SF_SMOKE).collect()
    true_sets, got_sets = {}, {}
    for r in brute:
        true_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ivf:
        got_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(true_sets[q] & got_sets.get(q, set())) for q in true_sets)
    total = sum(len(s) for s in true_sets.values())
    assert hits / total >= 0.3, (hits, total)


def test_ivf_anchor_determinism(spark):
    """Anchor selection (md5-ordered sample) is stable across invocations —
    the property that lets the DuckDB oracle reproduce the quantizer."""
    a = [tuple(r["v"]) for r in sim._anchor_rows(spark, SF_SMOKE)]
    b = [tuple(r["v"]) for r in sim._anchor_rows(spark, SF_SMOKE)]
    assert a == b and len(a) == sim.N_CENTROIDS


def test_mllib_lsh_runs_and_ranks(spark):
    rows = sim.ann_topk_mllib(spark, SF_SMOKE).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rk"], r["dist"]))
    for q, lst in by_q.items():
        lst.sort()
        dists = [d for _, d in lst]
        assert dists == sorted(dists), (q, dists)


def test_embedding_topk_pairs_oracle_parity(spark):
    assert_query_matches_oracle(spark, "embedding_topk_pairs")


def test_kmeans_ivf_recall_at_5(spark):
    """The trained-quantizer IVF must report correct cosines (subset of the
    brute-force scoring) and usable recall. On the near-orthogonal fixture
    vectors k-means cells are NOT better than the md5 sample (measured 0.52
    vs 0.58 — no cluster structure to learn), so the bound is an absolute
    floor, not a comparison."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in sim.ann_topk_bruteforce(spark, SF_SMOKE, k=10**6).collect()
    }
    true_sets = {}
    for r in sim.ann_topk_bruteforce(spark, SF_SMOKE).collect():
        true_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows):
        hit = sum(1 for r in rows if r["neighbor_id"] in true_sets[r["query_id"]])
        return hit / sum(len(s) for s in true_sets.values())

    km_rows = sim.ann_topk_ivf_kmeans(spark, SF_SMOKE).collect()
    for r in km_rows:
        key = (r["query_id"], r["neighbor_id"])
        assert key in brute and brute[key] == r["cos_sim"], (r, brute.get(key))
    assert recall(km_rows) >= 0.4, recall(km_rows)


def test_embedding_ivf_dedup_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_embedding_ivf")


def test_embedding_ivf_dedup_pairs_are_genuine(spark):
    """Every reported pair must be a true above-threshold pair (subset of the
    unblocked all-pairs set) with the correct cosine."""
    truth = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in sim.embedding_topk_pairs(spark, SF_SMOKE, top_pairs=10**6).collect()
        if r["cos_sim"] >= sim.NEARDUP_COS_THRESHOLD
    }
    blocked = sim.dedup_embedding_ivf(spark, SF_SMOKE).collect()
    assert blocked
    for r in blocked:
        key = (r["vec_a"], r["vec_b"])
        assert key in truth and truth[key] == r["cos_sim"], (r, truth.get(key))


def test_embedding_ivf_dedup_skewed_cell_chunked_kernel(spark):
    """Round-8 advisor item: a SKEWED cell (near-identical vectors collapsing
    into one quantizer slot) must stream through the row-chunked per-cell
    kernel, not a full c×c matrix. 1300 copies of one direction (> the 1024
    chunk) plus orthogonal noise vectors land in one cell and must emit
    exactly C(1300,2) pairs at cos 1.0 — crossing the chunk boundary, so a
    chunking bug (lost strict-upper-triangle mask across the seam, dropped
    tail slab) changes the count."""
    import tempfile

    n = 1300
    rows = [(i, [1.0, 2.0] + [0.0] * 6, 0) for i in range(n)]
    rows += [(n + i, [0.0] * 7 + [1.0], 1) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(2).write.parquet(f"{d}/embeddings.parquet")
        got = sim.dedup_embedding_ivf(spark, d)
        same = got.where(f"cos_sim = 1.0 AND vec_a < {n} AND vec_b < {n}")
        assert same.count() == n * (n - 1) // 2
        # both pair orientations respect vec_a < vec_b across chunk seams
        assert got.where("vec_a >= vec_b").count() == 0


@pytest.mark.parametrize("name", ["ann_topk_ivf_kmeans_recall", "ann_topk_mllib_recall"])
def test_recall_twin_oracle_parity(spark, name):
    """The round-5 value checks for the two trained-state ANN variants:
    recall vs brute force must clear the floor, reproduced by the oracle."""
    assert_query_matches_oracle(spark, name)


# --------------------------------------------------------------------------- #
# round-5: embedding outliers (per-label centroid + residual cosine)
# --------------------------------------------------------------------------- #

def test_embedding_outliers_oracle_parity(spark):
    assert_query_matches_oracle(spark, "embedding_outliers")


def test_embedding_outliers_flags_the_planted_point(spark):
    """A vector pointing AWAY from its cluster must rank as the #1 outlier."""
    import pyspark.sql.functions as F

    rows = []
    for i in range(30):
        # tight cluster around +e1 with small e2 jitter
        rows.append((i, [1.0, 0.01 * (i % 5), 0.0], 0))
    rows.append((99, [-1.0, 0.0, 0.0], 0))  # planted anti-cluster point
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")
        out = sim.embedding_outliers(spark, d).collect()
    top = min(out, key=lambda r: (r["rk"]))
    assert top["vec_id"] == 99 and top["rk"] == 1
    assert top["cos_centroid"] < 0


def test_knn_label_agreement_oracle_parity(spark):
    assert_query_matches_oracle(spark, "knn_label_agreement")


def test_knn_label_agreement_perfect_on_separated_clusters(spark):
    """Three tight, mutually-orthogonal label clusters ⇒ every vector's
    nearest neighbor shares its label (agreement 100%); bounds hold."""
    import tempfile

    rows = []
    vid = 0
    for lab in range(3):
        for i in range(5):
            v = [0.0, 0.0, 0.0, 0.0]
            v[lab] = 1.0
            v[3] = 0.01 * i  # tiny in-cluster jitter
            rows.append((vid, v, lab))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")
        out = {r["label"]: r for r in sim.knn_label_agreement(spark, d).collect()}
    assert set(out) == {0, 1, 2}
    for lab, r in out.items():
        assert r["n_vecs"] == 5 and r["nn_same"] == 5, r


def test_knn_label_agreement_lsh_oracle_parity(spark):
    assert_query_matches_oracle(spark, "knn_label_agreement_lsh")


def test_knn_lsh_matches_exact_on_sign_separated_clusters(spark):
    """Three clusters whose centroid SIGN PATTERNS sit ≥ hamming-4 apart
    (so hamming ≤ 2 probes never cross clusters): the LSH route's blocking
    really partitions the space, and within a cluster it must reproduce
    the exact operator bit-for-bit — per-vector 1-NN identical to
    allpairs.cosine_nn1 and per-label agreement 100 %."""
    import tempfile

    from tf_idf_using_mapreduce_spark.operators.allpairs import cosine_nn1

    signs = [
        [1, 1, 1, 1, 1, 1, 1, 1],
        [-1, -1, -1, -1, 1, 1, 1, 1],
        [1, 1, -1, -1, -1, -1, 1, 1],
    ]
    rows, vid = [], 0
    for lab, s in enumerate(signs):
        for i in range(6):
            v = [float(b) for b in s] + [0.05 * i, 0.01 * lab]
            rows.append((vid, v, lab))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")
        agg = {r["label"]: r for r in sim.knn_label_agreement_lsh(spark, d).collect()}
        vecs = sim._vectors(spark, d)
        lsh_nn = {r["qid"]: r["nid"] for r in sim._lsh_nn1(vecs).collect()}
        exact_nn = {r["id"]: r["nn_id"] for r in cosine_nn1(vecs).collect()}
    assert set(agg) == {0, 1, 2}
    for lab, r in agg.items():
        assert r["n_vecs"] == 6 and r["nn_same"] == 6, r
    assert lsh_nn == exact_nn  # recall 1.0 when neighbors share sign structure


def test_knn_lsh_recall_floor_on_fixture(spark):
    """The near-orthogonal fixture is sign-LSH's documented WORST case
    (neighbor cosine ≈ 0.4 ⇒ per-bit flip prob ≈ 0.37 ⇒ P(within
    hamming 2 of 8 bits) ≈ 0.3) — pin the floor well below the measured
    0.36-0.38 so a broken blocking (recall ≈ hamming-weighted chance,
    < 0.1) fails while geometry noise passes. Real embedding corpora sit
    far above this: see the sign-separated-clusters test (recall 1.0)."""
    from tf_idf_using_mapreduce_spark.operators.allpairs import cosine_nn1

    vecs = sim._vectors(spark, SF_SMOKE)
    lsh_nn = {r["qid"]: r["nid"] for r in sim._lsh_nn1(vecs).collect()}
    exact = {r["id"]: r["nn_id"] for r in cosine_nn1(vecs).collect()}
    hits = sum(1 for i, nn in exact.items() if lsh_nn.get(i) == nn)
    assert hits / len(exact) >= 0.25, f"recall {hits / len(exact):.3f}"


def test_embedding_centroid_shift_oracle_parity(spark):
    assert_query_matches_oracle(spark, "embedding_centroid_shift")


def test_embedding_centroid_shift_detects_flip(spark):
    """Label 0: both parity halves drawn around one direction ⇒ cos ≈ 1
    (no drift). Label 1: the odd half NEGATED ⇒ cos ≈ -1 (max drift).
    Label 2: only even ids ⇒ excluded (no defined B-side direction)."""
    import tempfile

    rows = []
    vid = 0
    for i in range(8):
        base = [1.0, 0.5, -0.25, 0.75, 1.0, -0.5, 0.25, 1.0, 0.01 * i]
        rows.append((vid, base, 0)); vid += 1
    for i in range(8):
        base = [0.5, -1.0, 0.75, 0.25, -1.0, 0.5, 1.0, -0.25, 0.01 * i]
        if vid % 2 == 1:
            base = [-x for x in base]
        rows.append((vid, base, 1)); vid += 1
    rows.append((vid * 2, [1.0] * 9, 2))  # even-only label
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")
        out = {r["label"]: r for r in sim.embedding_centroid_shift(spark, d).collect()}
    assert set(out) == {0, 1}
    assert out[0]["centroid_cos"] > 0.99
    assert out[1]["centroid_cos"] < -0.99
    assert out[0]["n_a"] + out[0]["n_b"] == 8


def test_knn_lsh_empty_corpus_engine_oracle_parity(spark):
    """Round-8 advisor item: on an EMPTY embeddings table the Spark route
    returns an empty frame and the oracle must too — not raise (the unguarded
    in-SQL width law hit DuckDB's 'cannot take logarithm of zero'). Both
    engines through their real entry points, zero rows, no exception."""
    import tempfile

    import duckdb

    schema = "vec_id long, embedding array<float>, label int"
    df = spark.createDataFrame([], schema)
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")
        assert sim.knn_label_agreement_lsh(spark, d).count() == 0
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/embeddings.parquet/*.parquet')"
        )
        assert con.execute(sim.KNN_LABEL_AGREEMENT_LSH_ORACLE).fetchall() == []


def test_derive_sign_bits_law_and_sql_mirror():
    """The sign-LSH width law (round-8 verdict item): floor 8 at fixture
    scales (500 vecs — fixture behavior unchanged), 10 at sf0.1's 2000,
    ceiling 24 where the per-bucket caps take over — and the IN-SQL mirror
    inside the oracle must derive the identical width for any count, else
    the two engines silently bucket at different widths."""
    import duckdb

    assert sim._derive_sign_bits(500) == 8
    assert sim._derive_sign_bits(512) == 8
    assert sim._derive_sign_bits(2000) == 10
    assert sim._derive_sign_bits(0) == 8
    assert sim._derive_sign_bits(10**9) == 24
    # the SQL mirror carries the Python law's max(n, 2) guard (round-8
    # advisor: log2(0) raises in DuckDB on an empty embeddings table, while
    # _derive_sign_bits(0) == 8 — the guard keeps engine and oracle aligned
    # even on an empty corpus)
    law = (f"greatest({sim.LSH_SIGN_DIMS}, least({sim.LSH_SIGN_DIMS_MAX}, "
           "CAST(ceil(log2(CAST(greatest(n, 2) AS DOUBLE) / 2.0)) AS INT)))")
    # the oracle carries the same law over count(*)
    assert ("log2(CAST(greatest(count(*), 2) AS DOUBLE) / 2.0)"
            in sim.KNN_LABEL_AGREEMENT_LSH_ORACLE)
    for n in [0, 1, 2, 3, 500, 512, 513, 1024, 2000, 65536, 10**6, 10**9]:
        got = duckdb.sql(f"SELECT {law}".replace("greatest(n, 2)", f"greatest({n}, 2)")).fetchone()[0]
        assert got == sim._derive_sign_bits(n), (n, got)


def test_derive_ivf_cells_law_and_sql_mirror():
    """The IVF dedup cell-count law (round-8 sf1.0 decade sweep): floor at
    N_CENTROIDS for fixture scales (pinned results unchanged), ~n/125 mean
    occupancy beyond, ceiling 4096 — and the oracle's in-SQL mirror must
    derive the identical count for any n, else the engines block into
    different cells and every downstream pair diverges."""
    import duckdb

    floor = sim.N_CENTROIDS
    assert sim._derive_ivf_cells(0) == floor
    assert sim._derive_ivf_cells(500) == floor
    assert sim._derive_ivf_cells(125 * floor) == floor
    assert sim._derive_ivf_cells(125 * floor + 1) == floor + 1
    assert sim._derive_ivf_cells(20000) == 160
    assert sim._derive_ivf_cells(10**9) == sim.IVF_DEDUP_MAX_CELLS
    law = (f"greatest({sim.N_CENTROIDS}, least({sim.IVF_DEDUP_MAX_CELLS}, "
           f"CAST(ceil(CAST(n AS DOUBLE) / {sim.IVF_TARGET_CELL}) AS INT)))")
    # the oracle carries the same law over count(*)
    assert (f"CAST(ceil(CAST(count(*) AS DOUBLE) / {sim.IVF_TARGET_CELL}) AS INT)"
            in sim.EMBEDDING_IVF_DEDUP_ORACLE)
    for n in [1, 2, 500, 2000, 2001, 20000, 500000, 10**9]:
        got = duckdb.sql(f"SELECT {law.replace('n AS DOUBLE', str(n) + ' AS DOUBLE')}").fetchone()[0]
        assert got == sim._derive_ivf_cells(n), (n, got)


def test_knn_lsh_derived_bits_widen_with_corpus(spark):
    """At sf0.1 (2000 vecs) the operator runs at 10 bits: the oracle's
    dynamic probes must reproduce it exactly (hash parity at a width the
    8-bit fixtures never exercise)."""
    from tests.conftest import assert_query_matches_oracle

    assert_query_matches_oracle(spark, "knn_label_agreement_lsh",
                                sf_dir="/root/testdata/sf0.1")


# --------------------------------------------------------------------------- #
# SemDeDup (round 10)
# --------------------------------------------------------------------------- #

def test_semdedup_oracle_parity(spark):
    assert_query_matches_oracle(spark, "semdedup_prune")


def test_semdedup_election_contract(spark):
    """Exactly one kept member per duplicate group; the survivor is the
    group's minimum-affinity member (ties to min vec_id); singleton groups
    keep themselves; the duplicate groups are exactly the connected
    components of the IVF-blocked near-dup pair graph."""
    from tf_idf_using_mapreduce_spark.operators import dedup as dd

    rows = sim.semdedup_prune(spark, SF_SMOKE).collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        kept = [r for r in members if r["kept"]]
        assert len(kept) == 1, (cid, members)
        min_aff = min(r["aff"] for r in members)
        winner = min(r["vec_id"] for r in members if r["aff"] == min_aff)
        assert kept[0]["vec_id"] == winner
        assert cid == min(r["vec_id"] for r in members)
    # cross-check group structure against the registered edge operator
    edges = sim.dedup_embedding_ivf(spark, SF_SMOKE)
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in dd.connected_components_twostar(
            edges, src="vec_a", dst="vec_b").collect()
    }
    for r in rows:
        assert r["cluster_id"] == labels.get(r["vec_id"], r["vec_id"])


def test_arrow_cell_assignment_matches_sql(spark):
    """The r15 Arrow exact-fold cell assignment (``_assign_cells_arrow``)
    must reproduce the SQL higher-order-expression assignment EXACTLY —
    same (vec_id → cid) map, because the numpy fold accumulates in the same
    left-to-right IEEE order as ``aggregate(zip_with(...))`` and rounds at
    COS_ROUND before the argmax (first max ⇔ lowest cid, matching
    ``array_max(struct(c, ncid))``)."""
    from pyspark.sql import functions as F

    anchors = sim._anchor_rows(spark, SF_SMOKE)
    vecs = sim._vectors(spark, SF_SMOKE)
    aff = sim._affinity_col(anchors, "v", "nrm")
    sql_cids = {
        r["vec_id"]: r["cid"]
        for r in vecs.select(
            "vec_id", (-F.array_max(aff).getField("ncid")).alias("cid")
        ).collect()
    }
    arrow_cids = {
        r["vec_id"]: r["cid"]
        for r in sim._assign_cells_arrow(vecs, anchors).select("vec_id", "cid").collect()
    }
    assert arrow_cids == sql_cids


def test_cos_rounding_pin(spark):
    """The numpy kernels' one rounding step (``vectors.cos_round``) rounds
    half-to-even on the binary value; Spark SQL and DuckDB ``round`` are
    HALF_UP on the decimal. Pinned at exact decimal ties: they differ at
    0.12345 and 0.30005, and agree at 0.29995, which rounds onto
    NEARDUP_COS_THRESHOLD in all three."""
    import duckdb
    import numpy as np

    from tf_idf_using_mapreduce_spark.functions.vectors import COS_ROUND, cos_round

    xs = [0.12345, 0.30005, 0.29995]
    select = "SELECT " + ", ".join(
        f"round(CAST({x!r} AS DOUBLE), {COS_ROUND})" for x in xs)
    got_np = cos_round(np.array(xs)).tolist()
    got_spark = list(spark.sql(select).first())
    got_duck = list(duckdb.sql(select).fetchone())
    assert got_np == [0.1234, 0.3, 0.3]
    assert got_spark == got_duck == [0.1235, 0.3001, 0.3]
    assert got_np[2] == got_spark[2] == sim.NEARDUP_COS_THRESHOLD


def test_cos_kernels_rank_ties_to_lowest_id_and_drop_empty_rows():
    """``nearest_anchor`` and ``best_per_row`` against a plain-Python
    reference on small-integer vectors (many exactly equal cosines) and
    masked cells: the max ROUNDED cosine wins, ties go to the lowest id,
    and rows with no valid candidate are dropped. No Spark session."""
    import numpy as np

    from tf_idf_using_mapreduce_spark.functions.vectors import (
        best_per_row,
        cos_quotient,
        cos_round,
        cos_tile,
        nearest_anchor,
    )

    rng = np.random.RandomState(7)
    A = rng.randint(-2, 3, size=(12, 3)).astype(np.float64)
    V = rng.randint(-2, 3, size=(40, 3)).astype(np.float64)
    A[~A.any(axis=1)] = 1.0
    V[~V.any(axis=1)] = 1.0
    an = np.sqrt((A * A).sum(axis=1))
    nrm = np.sqrt((V * V).sum(axis=1))

    C = cos_round(cos_quotient(V @ A.T, nrm, an))
    cid, aff = nearest_anchor(V @ A.T, nrm, an)
    n_tied = 0
    for i in range(len(V)):
        row = C[i].tolist()
        want = min(range(len(row)), key=lambda j: (-row[j], j))
        assert (int(cid[i]), float(aff[i])) == (want, row[want])
        n_tied += row.count(row[want]) > 1
    assert n_tied > 0
    # rounding comes before ranking: the raw argmax is cid 1, but both
    # cosines round to 1.0, so the lower cid wins
    A2 = np.array([[1.0, 1e-5], [1.0, 0.0]])
    an2 = np.sqrt((A2 * A2).sum(axis=1))
    dots = np.array([[1.0, 0.0]]) @ A2.T
    assert cos_quotient(dots, [1.0], an2).argmax() == 1
    assert nearest_anchor(dots, np.array([1.0]), an2)[0].tolist() == [0]

    ids = rng.permutation(100)[:len(A)].astype(np.int64)  # unsorted ids
    _raw, M = cos_tile(V, A, nrm, an)
    M[rng.rand(*M.shape) < 0.4] = -np.inf
    M[[3, 17]] = -np.inf  # rows with no valid candidate
    ok, nn, cos = best_per_row(M, ids)
    want, n_id_ties = [], 0
    for i in range(len(V)):
        cands = [(M[i, j], int(ids[j])) for j in range(len(ids)) if M[i, j] != -np.inf]
        if cands:
            c, n = min(cands, key=lambda t: (-t[0], t[1]))
            want.append((i, n, c))
            n_id_ties += int(ids[M[i].argmax()]) != n
    got = [(int(i), int(n), float(c)) for i, n, c in zip(np.flatnonzero(ok), nn, cos)]
    assert got == want
    assert not ok[3] and not ok[17]
    assert n_id_ties > 0  # some tie is settled by id, not column order


def test_cell_labels_match_global_cc(spark):
    """The r15 cell-local union-find labeling (``_ivf_cell_labels``) must
    reproduce EXACTLY the global two-star CC labels over the registered
    ``_ivf_cell_pairs`` edges — same node set (pair participants only),
    same component-min cluster ids. This is the internals-change pin for
    the semdedup optimization (pairs never span IVF cells, so the global
    rounds were pure overhead)."""
    from tf_idf_using_mapreduce_spark.operators import dedup as dd

    corpus = sim._ivf_assign(spark, SF_SMOKE)
    assert corpus is not None
    corpus = corpus.localCheckpoint(eager=False)
    local = {
        (r["vec_id"], r["cluster_id"])
        for r in sim._ivf_cell_labels(corpus).collect()
    }
    edges = sim._ivf_cell_pairs(corpus)
    global_cc = {
        (r["doc_id"], r["cluster_id"])
        for r in dd.connected_components_twostar(
            edges, src="vec_a", dst="vec_b").collect()
    }
    assert local == global_cc


def test_semdedup_prunes_planted_duplicate_group(spark):
    """Three near-identical vectors (one exact dup + one tiny perturbation)
    plus orthogonal singletons: the trio forms ONE group with exactly one
    survivor — the least-prototypical member by centroid affinity."""
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    base = rng.normal(size=32)
    vecs = [base, base, base + 1e-4 * rng.normal(size=32)]
    for a in range(5):
        v = np.zeros(32)
        v[a] = 1.0
        vecs.append(v)
    table = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array([[float(x) for x in v] for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int32()),
    })
    with tempfile.TemporaryDirectory() as d:
        pq.write_table(table, f"{d}/embeddings.parquet")
        rows = sim.semdedup_prune(spark, d).collect()
    trio = [r for r in rows if r["vec_id"] in (0, 1, 2)]
    assert {r["cluster_id"] for r in trio} == {0}
    assert sum(r["kept"] for r in trio) == 1
    others = [r for r in rows if r["vec_id"] > 2]
    assert all(r["kept"] for r in others)


# --------------------------------------------------------------------------- #
# round-11: anchor cache keyed by corpus IDENTITY, not just path
# --------------------------------------------------------------------------- #

def test_anchor_cache_refreshes_when_dir_contents_change(spark):
    """A warehouse dir whose CONTENTS change between calls in one session
    must re-derive its quantizer (r10 verdict #5 / ADVICE: the path-only
    cache key served the first probe's anchors forever — including the
    degenerate <= 1-row md5 anchors after an empty-then-populated
    transition). Grow a dir mid-session twice — 1 row -> 30 rows -> 60
    rows — and observe fresh anchors each time on BOTH quantizer paths."""
    import shutil
    import tempfile

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(d, n):
        rng = np.random.default_rng(n)
        table = pa.table({
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in rng.normal(size=8)] for _ in range(n)],
                pa.list_(pa.float32())),
            "label": pa.array([0] * n, pa.int32()),
        })
        shutil.rmtree(f"{d}/embeddings.parquet", ignore_errors=True)
        pq.write_table(table, f"{d}/embeddings.parquet")

    with tempfile.TemporaryDirectory() as d:
        write(d, 1)
        # md5-anchor path: degenerate 1-row corpus yields 1 anchor
        assert len(sim._anchor_rows(spark, d, sim.N_CENTROIDS)) == 1
        # kmeans path: n < 2 falls back to the md5 anchors (1 search result
        # set over a 1-vector corpus is empty — no self pairs)
        assert sim.ann_topk_ivf_kmeans(spark, d).count() == 0
        write(d, 30)
        a30 = sim._anchor_rows(spark, d, sim.N_CENTROIDS)
        assert len(a30) == sim.N_CENTROIDS  # fresh anchors, not the stale 1
        assert sim.ann_topk_ivf_kmeans(spark, d).count() > 0  # trained now
        write(d, 60)
        a60 = sim._anchor_rows(spark, d, sim.N_CENTROIDS)
        assert len(a60) == sim.N_CENTROIDS
        # different corpus -> different sampled anchors (rng seeds differ)
        assert [r["v"] for r in a60] != [r["v"] for r in a30]


# --------------------------------------------------------------------------- #
# round-11: coverage-aware diverse sampling
# --------------------------------------------------------------------------- #

def test_diverse_sample_ivf_oracle_parity(spark):
    assert_query_matches_oracle(spark, "diverse_sample_ivf")


def test_diverse_sample_covers_every_occupied_cell(spark):
    """Every IVF cell with members contributes 1..DIVERSE_PER_CELL
    representatives with contiguous ranks from 1, ordered by descending
    rounded affinity (ties to the lowest vec_id) — the coverage guarantee
    that distinguishes this from top-N-by-score global sampling."""
    rows = sim.diverse_sample_ivf(spark, SF_SMOKE).collect()
    assert rows
    cells = {}
    for r in rows:
        cells.setdefault(r["cid"], []).append(r)
    assigned = sim._ivf_assign(spark, SF_SMOKE)
    occupied = {r["cid"] for r in assigned.select("cid").distinct().collect()}
    assert set(cells) == occupied
    for cid, members in cells.items():
        members.sort(key=lambda r: r["rk"])
        assert [m["rk"] for m in members] == list(range(1, len(members) + 1))
        assert len(members) <= sim.DIVERSE_PER_CELL
        key = [(-m["aff"], m["vec_id"]) for m in members]
        assert key == sorted(key)


def test_diverse_sample_keeps_most_prototypical_member(spark):
    """Rank-1 of each cell is the cell's maximum rounded affinity (ties to
    min vec_id) — verified against the raw assignment frame."""
    assigned = {r["cid"]: r for r in (
        sim._ivf_assign(spark, SF_SMOKE)
        .groupBy("cid")
        .agg(F.max(F.struct(F.col("aff"), (-F.col("vec_id")).alias("nid"))).alias("m"))
        .select("cid", F.col("m.aff").alias("aff"), (-F.col("m.nid")).alias("vec_id"))
        .collect()
    )}
    top = {r["cid"]: r for r in sim.diverse_sample_ivf(spark, SF_SMOKE)
           .where(F.col("rk") == 1).collect()}
    assert set(top) == set(assigned)
    for cid, r in top.items():
        assert r["aff"] == assigned[cid]["aff"]
        assert r["vec_id"] == assigned[cid]["vec_id"]


# --------------------------------------------------------------------------- #
# PQ ANN (round 13)
# --------------------------------------------------------------------------- #


def test_pq_recall_meets_floor_and_twin_is_green(spark):
    from tests.conftest import SF_CHECK, assert_query_matches_oracle

    row = sim.ann_topk_pq_recall(spark, SF_CHECK).collect()[0]
    assert row["recall_ok"] == 1, row
    assert row["n_true"] > 0
    assert_query_matches_oracle(spark, "ann_topk_pq_recall")


def test_pq_is_deterministic_and_shaped_like_bruteforce(spark):
    a = {tuple(r) for r in sim.ann_topk_pq(spark, SF_SMOKE).collect()}
    b = {tuple(r) for r in sim.ann_topk_pq(spark, SF_SMOKE).collect()}
    assert a == b and len(a) > 0
    exact = sim.ann_topk_bruteforce(spark, SF_SMOKE)
    assert sim.ann_topk_pq(spark, SF_SMOKE).columns == exact.columns
    # per-query result counts match the exact searcher's (full k per query)
    import collections

    per_q = collections.Counter(q for q, *_ in a)
    exact_per_q = collections.Counter(
        r["query_id"] for r in exact.collect())
    assert per_q == exact_per_q


def test_pq_rerank_scores_are_exact_cosines(spark):
    """The re-rank stage must emit EXACT cosine values: every (query,
    neighbor, cos_sim) the PQ search returns appears with the identical
    score in the exact all-pairs scoring (PQ may pick different neighbors —
    that is recall — but never a wrong score)."""
    from pyspark.sql import functions as F

    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in sim.ann_topk_bruteforce(spark, SF_SMOKE, k=10**6).collect()
    }
    for r in sim.ann_topk_pq(spark, SF_SMOKE).collect():
        assert exact_scores[(r["query_id"], r["neighbor_id"])] == r["cos_sim"], r


def test_pq_empty_and_tiny_corpora(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    d = str(tmp_path)
    # empty embeddings
    pq_.write_table(pa.table({
        "vec_id": pa.array([], pa.int64()),
        "label": pa.array([], pa.string()),
        "embedding": pa.array([], pa.list_(pa.float32())),
    }), f"{d}/embeddings.parquet")
    assert sim.ann_topk_pq(spark, d).count() == 0
    row = sim.ann_topk_pq_recall(spark, d).collect()[0]
    assert (row["n_true"], row["recall_ok"]) == (0, 1)


# --------------------------------------------------------------------------- #
# IVFPQ ANN (round 14): the two halves composed
# --------------------------------------------------------------------------- #


def test_ivfpq_recall_meets_floor_and_twin_is_green(spark):
    from tests.conftest import SF_CHECK, assert_query_matches_oracle

    row = sim.ann_topk_ivfpq_recall(spark, SF_CHECK).collect()[0]
    assert row["recall_ok"] == 1, row
    assert row["n_true"] > 0
    assert_query_matches_oracle(spark, "ann_topk_ivfpq_recall")


def test_ivfpq_is_deterministic_and_shaped_like_bruteforce(spark):
    a = {tuple(r) for r in sim.ann_topk_ivfpq(spark, SF_SMOKE).collect()}
    b = {tuple(r) for r in sim.ann_topk_ivfpq(spark, SF_SMOKE).collect()}
    assert a == b and len(a) > 0
    assert sim.ann_topk_ivfpq(spark, SF_SMOKE).columns == \
        sim.ann_topk_bruteforce(spark, SF_SMOKE).columns


def test_ivfpq_rerank_scores_are_exact_cosines(spark):
    """Every (query, neighbor, cos_sim) IVFPQ returns appears with the
    identical score in exact all-pairs scoring — cell+code approximation
    may pick different neighbors (that is recall), never a wrong score."""
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in sim.ann_topk_bruteforce(spark, SF_SMOKE, k=10**6).collect()
    }
    for r in sim.ann_topk_ivfpq(spark, SF_SMOKE).collect():
        assert exact_scores[(r["query_id"], r["neighbor_id"])] == r["cos_sim"], r


def test_ivfpq_candidates_come_from_probed_cells_only(spark):
    """IVFPQ must be a strict subset of what scanning the probed cells can
    yield: every returned neighbor's cell is in its query's probe set
    (computed independently here from the same derived-width quantizer)."""
    import numpy as np

    n = sim.load_table(spark, SF_SMOKE, "embeddings").count()
    anchors = sim._anchor_rows(spark, SF_SMOKE, sim._derive_ivf_cells(n))
    A = np.stack([np.asarray(r["v"], dtype=np.float64) for r in anchors])
    an = np.asarray([r["nrm"] for r in anchors], dtype=np.float64)
    rows = sim._vectors(spark, SF_SMOKE).collect()
    cid = {}
    probes = {}
    for r in rows:
        v = np.asarray(r["v"], dtype=np.float64)
        aff = np.round((A @ v) / (an * r["nrm"]), sim.COS_ROUND)
        order = np.lexsort((np.arange(len(aff)), -aff))
        cid[r["vec_id"]] = int(order[0])
        if r["vec_id"] < sim.N_QUERIES:
            probes[r["vec_id"]] = {int(c) for c in order[:sim.N_PROBE]}
    out = sim.ann_topk_ivfpq(spark, SF_SMOKE).collect()
    assert out
    for r in out:
        assert cid[r["neighbor_id"]] in probes[r["query_id"]], r


def test_ivfpq_empty_and_tiny_corpora(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    d = str(tmp_path)
    pq_.write_table(pa.table({
        "vec_id": pa.array([], pa.int64()),
        "label": pa.array([], pa.string()),
        "embedding": pa.array([], pa.list_(pa.float32())),
    }), f"{d}/embeddings.parquet")
    assert sim.ann_topk_ivfpq(spark, d).count() == 0
    row = sim.ann_topk_ivfpq_recall(spark, d).collect()[0]
    assert (row["n_true"], row["recall_ok"]) == (0, 1)


def test_ivfpq_persisted_is_row_identical_to_in_plan_twin(spark):
    """Same codebooks, same anchors, same derived nprobe ⇒ the persisted-
    codes probe returns EXACTLY the in-plan search's rows — twice (the
    second call probes the memoized on-disk table)."""
    want = {tuple(r) for r in sim.ann_topk_ivfpq(spark, SF_SMOKE).collect()}
    got1 = {tuple(r) for r in sim.ann_topk_ivfpq_persisted(spark, SF_SMOKE).collect()}
    got2 = {tuple(r) for r in sim.ann_topk_ivfpq_persisted(spark, SF_SMOKE).collect()}
    assert got1 == want and got2 == want and want


def test_ivfpq_persisted_scan_is_partition_pruned_to_probed_cells(spark):
    """The codes table is directory-partitioned by cell id and the probe's
    cid.isin resolves to PARTITION PRUNING: the scan's file index lists
    only the probed cells' directories — measured from the plan AND the
    written layout (the events-tier discipline)."""
    import os
    import re

    from tf_idf_using_mapreduce_spark.operators import persisted

    df = sim.ann_topk_ivfpq_persisted(spark, SF_SMOKE)
    df.collect()
    name = next(n for n in persisted._BUILT if n.startswith("graft_idx_ivfpq_codes_"))
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    loc = next(r["data_type"] for r in rows
               if r["col_name"] == "Location").removeprefix("file:")
    cell_dirs = sorted(d for d in os.listdir(loc) if d.startswith("cid="))
    assert len(cell_dirs) > 1  # a real multi-cell layout
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines()
                if "FileScan" in l and "ivfpq_codes" in l)
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", scan)
    assert m, scan
    n_vecs = sim.load_table(spark, SF_SMOKE, "embeddings").count()
    nprobe = sim._derive_ivfpq_nprobe(
        len(sim._anchor_rows(spark, SF_SMOKE, sim._derive_ivf_cells(n_vecs))))
    # the scan lists at most the union of the queries' probe sets — and
    # strictly fewer dirs than exist when the union doesn't cover all cells
    assert int(m.group(1)) <= min(len(cell_dirs), sim.N_QUERIES * nprobe), scan
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
    assert pf and "cid" in pf.group(1), scan


def test_ivfpq_persisted_recall_twin_green_and_empty_corpus(spark, tmp_path):
    from tests.conftest import SF_CHECK, assert_query_matches_oracle

    row = sim.ann_topk_ivfpq_persisted_recall(spark, SF_CHECK).collect()[0]
    assert row["recall_ok"] == 1 and row["n_true"] > 0, row
    assert_query_matches_oracle(spark, "ann_topk_ivfpq_persisted_recall")
    import pyarrow as pa
    import pyarrow.parquet as pq_

    d = str(tmp_path)
    pq_.write_table(pa.table({
        "vec_id": pa.array([], pa.int64()),
        "label": pa.array([], pa.string()),
        "embedding": pa.array([], pa.list_(pa.float32())),
    }), f"{d}/embeddings.parquet")
    assert sim.ann_topk_ivfpq_persisted(spark, d).count() == 0
    row = sim.ann_topk_ivfpq_persisted_recall(spark, d).collect()[0]
    assert (row["n_true"], row["recall_ok"]) == (0, 1)
