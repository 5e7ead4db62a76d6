"""Similarity search over the ``embeddings`` table (SURVEY.md §7.2 #7):
brute-force cosine top-k (the correctness baseline) and a sign-LSH-bucketed
approximate variant (the scale path), plus embedding-cosine near-dup pairs.

Scale design:
- **brute force** is O(queries × corpus) — exact, and the oracle for recall;
  the join is a broadcast of the (small) query set against the corpus, so it
  parallelizes embarrassingly but cannot survive corpus × corpus.
- **sign-LSH**: bucket = sign bits of the first 8 dimensions (a fixed random
  hyperplane family — deterministic, shared with the oracle). Candidates are
  bucket-colocated only, turning the cross join into an equi-join on the
  bucket key — the same shuffle shape as a groupBy. Recall measured in tests.
- **IVF**: coarse-quantizer cells (deterministic md5-sampled anchors standing
  in for trained k-means centroids) + nprobe search — cell assignment is a
  pure projection with the anchors baked into the task closure, probes fan
  out on the broadcast query side only. Data-adaptive where sign-LSH is
  fixed; recall tunes via nprobe with no reindexing.
- An MLlib ``BucketedRandomProjectionLSH`` twin exists as the library-native
  alternative (rows-only check — model hashes aren't reproducible in SQL).

Ranking is on ROUNDED cosine (4dp) with vec_id tie-break, so Spark's and
DuckDB's last-bit float differences cannot flip an order.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.vectors import (
    CAST_DOUBLE,
    COS_ROUND,
    TILE_ROWS,
    best_per_row,
    cos_quotient,
    cos_round,
    cos_tile,
    cos_tiles,
    duck_cast_double,
    duck_cos,
    duck_dot,
    duck_norm,
    nearest_anchor,
    spark_cos,
    spark_norm,
)
from tf_idf_using_mapreduce_spark.operators.dedup import min_root_forest
from tf_idf_using_mapreduce_spark.sources.corpus import load_table

N_QUERIES = 10          # vec_id < 10 are the query vectors
TOP_K = 5
LSH_SIGN_DIMS = 8       # bucket key = sign bits of dims 1..8
NEARDUP_COS_THRESHOLD = 0.3  # fixture embeddings are near-orthogonal (max ~0.4)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zero-norm vectors (failed encoder outputs, padding rows) have no
    # direction: cosine against them is undefined and raises DIVIDE_BY_ZERO
    # under ANSI (found by the embeddings fuzz). Excluded here and by the
    # matching `WHERE nrm > 0` in every oracle's embeddings CTE.
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.expr(CAST_DOUBLE.format(v="embedding")).alias("v"),
    ).withColumn("nrm", F.expr(spark_norm("v"))).where(F.col("nrm") > 0)


ANN_SCHEMA = "query_id long, neighbor_id long, cos_sim double, rk int"


def _rank_neighbors(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rk): each query's ``k`` best
    candidates by rounded cosine, ties to the lowest neighbor_id, over
    candidate rows carrying (query_id, vec_id, v, nrm, qv, qn)."""
    scored = pairs.select("query_id", F.col("vec_id").alias("neighbor_id"),
                          spark_cos("v", "qv", "nrm", "qn").alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rk): exact top-k cosine neighbors for
    each query vector (vec_id < N_QUERIES), excluding self."""
    vecs = _vectors(spark, sf_dir)
    q = vecs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    pairs = vecs.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("query_id"))
    return _rank_neighbors(pairs, k)


ANN_BRUTEFORCE_ORACLE = f"""
WITH e AS (SELECT vec_id, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {duck_cos('c.v', 'q.v', 'c.nrm', 'q.nrm')} AS cos_sim
  FROM e q JOIN e c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, cos_sim, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
  FROM scored
) ranked WHERE rk <= {TOP_K}
"""


LSH_SIGN_DIMS_MAX = 24  # derived-law ceiling: 16M buckets; must stay < dim


def _derive_sign_bits(n_vecs: int) -> int:
    """Sign-LSH key width as a FUNCTION of corpus size — the
    ``_derive_shard_count`` pattern applied to the 8-bit seam the round-7
    verdict flagged: with every vector a query, candidate mass is
    Σ occupancy² ≈ n²/2^bits, so a FIXED width is quadratic until the
    hot-bucket caps saturate. Target mean occupancy 2 keeps the mass
    linear: ``bits = clamp(ceil(log2(n/2)), LSH_SIGN_DIMS,
    LSH_SIGN_DIMS_MAX)``. The law is mirrored VERBATIM in
    ``_knn_label_agreement_lsh_oracle`` as in-SQL arithmetic over
    ``count(*)``, so both engines derive the same width at EVERY scale
    (fixtures: 500 vecs → 8 bits, unchanged; sf0.1's 2000 → 10;
    1e9 → 24, the ceiling, where per-bucket caps take over)."""
    import math

    return max(LSH_SIGN_DIMS,
               min(LSH_SIGN_DIMS_MAX, math.ceil(math.log2(max(n_vecs, 2) / 2.0))))


def _sign_bucket_spark(v: str, bits: int = LSH_SIGN_DIMS) -> str:
    cells = [f"(CASE WHEN element_at({v}, {i}) >= 0 THEN '1' ELSE '0' END)"
             for i in range(1, bits + 1)]
    return "concat(" + ", ".join(cells) + ")"


def _sign_bucket_duck(v: str, bits: int = LSH_SIGN_DIMS) -> str:
    cells = [f"(CASE WHEN {v}[{i}] >= 0 THEN '1' ELSE '0' END)"
             for i in range(1, bits + 1)]
    return "concat(" + ", ".join(cells) + ")"


MULTIPROBE_HAMMING = 2  # probe all buckets within this hamming radius


def _probe_exprs(bucket: str, bits: int = LSH_SIGN_DIMS) -> list[str]:
    """SQL exprs for every bucket within hamming ≤ MULTIPROBE_HAMMING of
    ``bucket`` (multi-probe LSH: query-side fan-out, candidate-side single
    bucket — probes scale the small side only)."""
    from itertools import combinations

    def flip(positions: tuple[int, ...]) -> str:
        pieces = []
        for i in range(1, bits + 1):
            cell = f"substr({bucket}, {i}, 1)"
            if i in positions:
                pieces.append(f"(CASE WHEN {cell} = '1' THEN '0' ELSE '1' END)")
            else:
                pieces.append(cell)
        return "concat(" + ", ".join(pieces) + ")"

    probes = [bucket]
    for r in range(1, MULTIPROBE_HAMMING + 1):
        probes.extend(flip(c) for c in combinations(range(1, bits + 1), r))
    return probes


def ann_topk_lsh(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rk): multi-probe sign-LSH top-k —
    exact ranking within buckets at hamming ≤ 2 from the query's bucket.
    Candidates keep ONE bucket key; the probe fan-out (37 keys) lands on the
    broadcast query side, so the big side still does a plain equi-join."""
    vecs = _vectors(spark, sf_dir).withColumn("bucket", F.expr(_sign_bucket_spark("v")))
    probes = ", ".join(_probe_exprs("bucket"))
    q = (
        vecs.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.explode(F.expr(f"array({probes})")).alias("bucket"),
        )
    )
    pairs = vecs.join(F.broadcast(q), "bucket").where(F.col("vec_id") != F.col("query_id"))
    return _rank_neighbors(pairs, k)


def _ann_lsh_oracle() -> str:
    probes = ", ".join(_probe_exprs("bucket"))
    return f"""
WITH e AS (SELECT vec_id, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0),
b AS (SELECT *, {_sign_bucket_duck('v')} AS bucket FROM e),
qp AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, unnest([{probes}]) AS bucket
  FROM b WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT qp.query_id, c.vec_id AS neighbor_id,
         {duck_cos('c.v', 'qp.qv', 'c.nrm', 'qp.qn')} AS cos_sim
  FROM qp JOIN b c ON c.bucket = qp.bucket AND c.vec_id <> qp.query_id
)
SELECT query_id, neighbor_id, cos_sim, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
  FROM scored
) ranked WHERE rk <= {TOP_K}
"""


ANN_LSH_ORACLE = _ann_lsh_oracle()


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, cos_sim): within-label pairs above the cosine threshold —
    embedding near-dup with label blocking (the blocking key stands in for a
    coarse quantizer; at scale it would be an IVF/centroid assignment).

    r16 (guide §4.2): pair generation rides the SAME chunked-GEMM
    ``applyInPandas`` kernel as the IVF cell blocking (:func:`_ivf_cell_pairs`
    with the label as the cell id) — the former label self-JOIN evaluated the
    64-term higher-order dot fold INTERPRETED per candidate pair (~20k pairs
    × k·dim closures at sf0.1; the `_ivf_assign` docstring measured the same
    pathology at 17 s of a 22 s sf1.0 wall). Pair semantics are identical:
    grouping ≡ the label equi-join, ids sorted so vec_a < vec_b, cosine
    rounded at COS_ROUND before the threshold — and the kernel-vs-fold float
    question is the one the ORACLED `dedup_embedding_ivf` already settles
    (same kernel, same DuckDB fold oracle, hash-green at every SF).
    NULL labels are excluded explicitly: the former equi-join never matched
    them, whereas a groupBy would have made NULL a (wrong) block of its own."""
    vecs = _vectors(spark, sf_dir).where(F.col("label").isNotNull())
    return _ivf_cell_pairs(
        vecs.select("vec_id", "v", "nrm", F.col("label").alias("cid"))
    )


EMBEDDING_COSINE_ORACLE = f"""
WITH e AS (SELECT vec_id, label, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {duck_cos('a.v', 'b.v', 'a.nrm', 'b.nrm')} AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {duck_cos('a.v', 'b.v', 'a.nrm', 'b.nrm')} >= {NEARDUP_COS_THRESHOLD}
"""


# --------------------------------------------------------------------------- #
# IVF (inverted-file) ANN — coarse-quantizer cells + nprobe search
# --------------------------------------------------------------------------- #

N_CENTROIDS = 16
N_PROBE = 4

# Derived cell count for the IVF DEDUP blocking (round-8 sf1.0 decade
# sweep: fixed k=16 made within-cell pair mass n²/16 — 2.6 s → 87.6 s on
# 10× data, the LSH-key-width disease with cells instead of bits). Target
# mean occupancy ~IVF_TARGET_CELL keeps Σ cell² linear in n; the ceiling
# bounds the anchor literal the tasks ship (4096 × 64 dims ≈ 2 MB —
# beyond it a production system moves to a hierarchical/two-level
# quantizer, the standard IVF answer). Fixture scales stay at the k=16
# floor (500/125 → 4, 2000/125 → 16), so fixture behavior is unchanged;
# the law is mirrored IN SQL in the oracle, so parity holds at any scale.
IVF_TARGET_CELL = 125
IVF_DEDUP_MAX_CELLS = 4096


def _derive_ivf_cells(n_vecs: int) -> int:
    import math

    return max(N_CENTROIDS,
               min(IVF_DEDUP_MAX_CELLS, math.ceil(n_vecs / IVF_TARGET_CELL)))

# per-(sf_dir[, quantizer]) anchor memo (coordinator state, like a fitted
# model). Bounded: entries are tiny (N_CENTROIDS rows), but a long-lived
# session scanning many warehouse dirs shouldn't grow it without limit —
# oldest-inserted entries are evicted past the cap (dict preserves insertion
# order).
_ANCHOR_CACHE: dict = {}
_ANCHOR_CACHE_MAX = 32


def _anchor_cache_put(key, value) -> None:
    while len(_ANCHOR_CACHE) >= _ANCHOR_CACHE_MAX:
        _ANCHOR_CACHE.pop(next(iter(_ANCHOR_CACHE)))
    _ANCHOR_CACHE[key] = value


def _corpus_signature(sf_dir: str, table: str = "embeddings.parquet"):
    """Cheap corpus-identity component for the anchor-cache key: the
    (relative path, size, mtime) of every file behind ``table`` (default
    ``embeddings.parquet``) under ``sf_dir`` — no Spark scan, one ``stat``
    per file. A dir whose CONTENTS change between calls in one session (the
    empty-then-populated transition, a daily-refresh warehouse) therefore
    maps to a NEW cache key and re-derives its quantizer instead of serving
    stale anchors (round-10 residual: path-only keys pinned the first probe
    for the session). Non-local / unreadable layouts return ``None``, which
    callers treat as "identity unknown — do not memoize". The persisted
    dedup indexes (operators/persisted.py) key their on-disk tables with the
    same function over ``documents.parquet``."""
    import os

    root = os.path.join(sf_dir, table)
    try:
        if os.path.isfile(root):
            st = os.stat(root)
            return (("", st.st_size, st.st_mtime_ns),)
        sig = []
        for dirpath, _dirnames, filenames in sorted(os.walk(root)):
            for fn in sorted(filenames):
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                sig.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
        return tuple(sig) if sig else None
    except OSError:
        return None


def _anchor_rows(spark: SparkSession, sf_dir: str, k: int = N_CENTROIDS) -> list:
    """The IVF coarse quantizer: ``k`` anchor vectors chosen
    DETERMINISTICALLY as the corpus vectors with the smallest
    md5(vec_id-as-string) — a uniform pseudo-random sample both engines can
    reproduce exactly (a trained k-means would need model shipping; anchors
    keep the oracle bit-exact while exercising the same plan shape).

    Driver-side collect is metadata-scale BY DESIGN: IVF centroids are always
    driver/coordinator state (like a k-means model or a broadcast dim table) —
    16 × 64 doubles here, ~a few MB for real-world k=65536 × 1024-dim.
    Memoized per (sf_dir, k) so repeated invocations (bench runs, multi-query
    sessions) don't re-scan the corpus; production would persist the
    centroids as a model table.

    ``k`` defaults to the fixed search quantizer size; the dedup blocking
    passes its :func:`_derive_ivf_cells` width instead.

    The cache key carries :func:`_corpus_signature` — corpus IDENTITY, not
    just path — so a dir whose files change mid-session re-samples instead
    of serving the previous contents' anchors (r10 ADVICE: the path-only key
    kept the empty-then-populated hazard alive for md5-anchor consumers).
    Unknown identity (non-local layout) skips the memo entirely: correctness
    over convenience."""
    sig = _corpus_signature(sf_dir)
    key = (sf_dir, k, sig)
    if sig is None or key not in _ANCHOR_CACHE:
        rows = (
            _vectors(spark, sf_dir)
            .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
            .limit(k)
            .select("v", "nrm")
            .collect()
        )
        if sig is None:
            return rows
        _anchor_cache_put(key, rows)
    return _ANCHOR_CACHE[key]


def _affinity_col(anchors: list, v: str, nrm: str):
    """array<struct<c, ncid>> of (rounded cosine to anchor cid, -cid) for a
    row's vector. The anchors enter the plan as TWO data literals (an
    array<array<double>> of vectors and an array<double> of norms — 8 KB of
    literal VALUE, not 16 × 64-dim dot-product expression trees), and cell
    affinity is a higher-order ``transform`` over them — still a PURE
    PROJECTION (centroids ship with the task; no corpus × centroid join, no
    shuffle), but the expression tree is now O(1) in the centroid count, so
    a production k=65536 quantizer doesn't blow up the optimizer (the
    round-1 form inlined one dot expression per centroid, pasted twice).
    ``array_max`` picks (max c, then min cid) because struct comparison is
    field-ordered and ncid = -cid."""
    av = F.lit([[float(x) for x in row["v"]] for row in anchors])
    an = F.lit([float(row["nrm"]) for row in anchors])

    def affinity(a, i):
        dot = F.aggregate(
            F.zip_with(F.col(v), a, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        c = F.round(dot / (F.col(nrm) * F.element_at(an, i + F.lit(1))), COS_ROUND)
        return F.struct(c.alias("c"), (-i).cast("int").alias("ncid"))

    return F.transform(av, affinity)


def ann_topk_ivf(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rk): IVF top-k — each corpus vector is
    assigned to its nearest anchor's cell (map-only, anchors in the task
    closure), each query probes its ``N_PROBE`` nearest cells, and exact
    rounded-cosine ranking runs on cell-colocated candidates only.

    Scale shape: the corpus side stays a pure projection + ONE equi-join on
    the cell id against the broadcast probe fan-out (queries × nprobe rows) —
    the same physical pattern as ``ann_topk_lsh``, but with data-adaptive
    cells instead of fixed hyperplanes, and recall tunable via nprobe with no
    reindexing. The all-cells scan fraction is nprobe/k_cells (4/16 here;
    64/65536 in a production config)."""
    anchors = _anchor_rows(spark, sf_dir)
    vecs = _vectors(spark, sf_dir)
    return _ivf_search(vecs, anchors, k)


def _anchor_matrix(anchors: list):
    """(A, an): the anchors' vectors as the rows of a float64 matrix, in cid
    order, and their norms."""
    A = np.stack([np.asarray(r["v"], dtype=np.float64) for r in anchors])
    an = np.asarray([float(r["nrm"]) for r in anchors], dtype=np.float64)
    return A, an


def _batch_vectors(pdf):
    """(V, nrm): an Arrow batch's vectors as a float64 matrix, and their
    norms."""
    return (np.stack(pdf["v"].to_numpy()).astype(np.float64),
            pdf["nrm"].to_numpy(dtype=np.float64))


def _assign_cells_arrow(vecs: DataFrame, anchors: list) -> DataFrame:
    """(vec_id, v, nrm, cid): nearest-anchor cell per vector, Arrow-batched
    numpy with an EXACT-ORDER dot fold (r15 optimization of the `_ivf_search`
    corpus branch): Spark's higher-order ``transform``/``aggregate``/
    ``zip_with`` never enter codegen — the per-row k·dim interpreted
    evaluation was ~0.6 s of every ANN query at sf0.1 (the `_ivf_assign`
    docstring measured the same pathology at 17 s of a 22 s sf1.0 wall).
    Parity discipline is STRICTER than `_ivf_assign`'s BLAS matmul: the dot
    accumulates column-by-column (``acc += V[:,j]·A[:,j]``), i.e. the exact
    left-to-right IEEE sequence of the SQL ``aggregate(zip_with(...))`` fold
    and of DuckDB's ``list_dot_product`` — bit-identical affinities, so the
    rounded argmax (first max ⇔ lowest cid, matching
    ``array_max(struct(c, ncid))``) is oracle-exact for the ORACLED
    ``ann_topk_ivf``. Pinned against the expression form by
    tests/test_similarity.py::test_arrow_cell_assignment_matches_sql.

    The final rounding step is the shared numpy one
    (``vectors.nearest_anchor``), half-to-even where the query side's SQL
    ``round()`` is HALF_UP; the two differ only on exact decimal ties,
    pinned by tests/test_similarity.py::test_cos_rounding_pin."""
    A, an = _anchor_matrix(anchors)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V, nrm = _batch_vectors(pdf)
            dots = np.zeros((len(V), len(A)), dtype=np.float64)
            for j in range(V.shape[1]):
                dots += V[:, j:j + 1] * A[:, j][None, :]
            cid, _aff = nearest_anchor(dots, nrm, an)
            yield pdf.assign(cid=cid.astype("int32"))[
                ["vec_id", "v", "nrm", "cid"]]

    return vecs.mapInPandas(
        assign, "vec_id long, v array<double>, nrm double, cid int"
    )


def _ivf_search(vecs: DataFrame, anchors: list, k: int) -> DataFrame:
    """The IVF plan shape shared by every quantizer (md5-sampled anchors,
    trained k-means centroids, …): anchors → affinity projection → cell
    equi-join → windowed exact ranking. ``anchors`` rows need ``v``/``nrm``.
    The corpus-side assignment is the Arrow exact-fold kernel
    (:func:`_assign_cells_arrow`); the ≤ ``N_QUERIES``-row query side keeps
    the expression form (its scan prunes to the query ids, so the
    interpreted affinity runs on a handful of rows)."""
    if not anchors:
        # empty corpus ⇒ no quantizer cells (F.lit([]) cannot type an empty
        # anchor literal); empty-in → empty-out like the oracle
        return vecs.sparkSession.createDataFrame([], ANN_SCHEMA)
    aff = _affinity_col(anchors, "v", "nrm")
    corpus = _assign_cells_arrow(vecs, anchors)
    q = (
        vecs.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.explode(
                F.transform(
                    F.slice(F.reverse(F.array_sort(aff)), 1, N_PROBE),
                    lambda x: -x.getField("ncid"),
                )
            ).alias("cid"),
        )
    )
    pairs = corpus.join(F.broadcast(q), "cid").where(F.col("vec_id") != F.col("query_id"))
    return _rank_neighbors(pairs, k)


ANN_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0),
anchors AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
         v AS av, nrm AS an
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CENTROIDS}
),
affinity AS (
  SELECT e.vec_id, e.v, e.nrm, a.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {duck_cos('e.v', 'a.av', 'e.nrm', 'a.an')} DESC,
                    a.cid ASC) AS rn
  FROM e CROSS JOIN anchors a
),
assigned AS (SELECT vec_id, v, nrm, cid FROM affinity WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, cid
  FROM affinity WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBE}
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {duck_cos('c.v', 'p.qv', 'c.nrm', 'p.qn')} AS cos_sim
  FROM probes p JOIN assigned c ON c.cid = p.cid AND c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
  FROM scored
) ranked WHERE rk <= {TOP_K}
"""


def ann_topk_ivf_kmeans(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rk): IVF with a TRAINED coarse
    quantizer — MLlib KMeans centroids swapped in at the exact seam
    (``_ivf_search``) the md5-sampled variant uses, demonstrating that the
    quantizer is pluggable coordinator state. Rows-only check (trained
    centroids aren't SQL-expressible); recall vs brute force is asserted in
    tests/test_similarity.py. Production: fit once, persist the model,
    broadcast centers — the search plan is unchanged."""
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # corpus-identity key component (see _anchor_rows): a dir whose files
    # change mid-session re-trains instead of serving the stale model;
    # unknown identity (non-local layout) trains fresh every call
    sig = _corpus_signature(sf_dir)
    key = (sf_dir, "kmeans", sig)
    if sig is None or key not in _ANCHOR_CACHE:
        feats = _vectors(spark, sf_dir).select(array_to_vector("v").alias("features"))
        # MLlib KMeans requires k >= 2 and raises on an empty corpus (found
        # by tools/degenerate_check.py --tiny/--empty). Below 2 vectors
        # there is nothing to train: the corpus itself is the quantizer —
        # fall back to the md5-sampled anchors (which return all <= 1 rows,
        # and [] on empty, short-circuiting _ivf_search). Otherwise clamp k
        # to the corpus size so a tiny corpus trains a small quantizer.
        n = feats.count()
        if n < 2:
            # do NOT cache the degenerate fallback under the kmeans key:
            # return uncached and re-probe next call (ADVICE r9). The inner
            # _anchor_rows call is itself safe now — its key carries the
            # corpus signature, so the <= 1 md5 anchors it memoizes for THIS
            # dir state stop matching once the dir gains data (ADVICE r10:
            # the path-only memo used to pin them for ann_topk_ivf and
            # _ivf_assign consumers too).
            return _ivf_search(
                _vectors(spark, sf_dir), _anchor_rows(spark, sf_dir, N_CENTROIDS), k
            )
        else:
            model = KMeans(k=min(N_CENTROIDS, n), seed=42,
                           featuresCol="features").fit(feats)
            anchors = [
                {"v": [float(x) for x in c], "nrm": math.sqrt(float(sum(x * x for x in c)))}
                for c in model.clusterCenters()
            ]
            # unknown corpus identity (sig None): serve the fresh model but
            # never memoize — a (…, None) entry can't be read back (the
            # lookup short-circuits on sig) and would only evict a live
            # dir's entry at the cache cap. Mirrors _anchor_rows.
            if sig is None:
                return _ivf_search(_vectors(spark, sf_dir), anchors, k)
            _anchor_cache_put(key, anchors)
    return _ivf_search(_vectors(spark, sf_dir), _ANCHOR_CACHE[key], k)


def _ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """(vec_id, v, nrm, cid, aff) — every non-zero-norm vector with its
    md5-anchor IVF cell and the (rounded) cosine affinity to that cell's
    anchor; ``None`` on an empty corpus. Shared quantizer-projection stage
    of :func:`dedup_embedding_ivf` and :func:`semdedup_prune`.

    Arrow-batched numpy (the operators/allpairs.py convention), because
    Spark's higher-order array exprs (transform/aggregate/zip_with) never
    enter codegen — they evaluate INTERPRETED, and at the derived cell
    count that O(k·dim) per-row assignment was 17 s of a 22 s sf1.0
    wall-clock; as V @ A.T the same math is ~1 s. Assignment parity with
    the oracles: ``vectors.nearest_anchor`` rounds the affinity at
    COS_ROUND BEFORE the argmax, ties to the lowest cid."""
    n_cells = _derive_ivf_cells(load_table(spark, sf_dir, "embeddings").count())
    anchors = _anchor_rows(spark, sf_dir, n_cells)
    if not anchors:
        return None
    vecs = _vectors(spark, sf_dir)
    A, an = _anchor_matrix(anchors)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V, nrm = _batch_vectors(pdf)
            cid, aff = nearest_anchor(V @ A.T, nrm, an)
            pdf = pdf.assign(cid=cid.astype("int32"), aff=aff)
            yield pdf[["vec_id", "v", "nrm", "cid", "aff"]]

    return vecs.mapInPandas(
        assign, "vec_id long, v array<double>, nrm double, cid int, aff double"
    )


def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, cos_sim): embedding near-dup pairs ≥ the cosine
    threshold, blocked by IVF CELL — the real quantizer-slot blocking that
    ``dedup_embedding_cosine``'s label key stands in for. Cell assignment is
    the same anchors-as-data projection as the ANN search (no shuffle to
    block); pair generation is a self-equi-join on the cell id, so work is
    Σ per-cell size² instead of n² — and the cell count is NOT fixed: it
    follows the :func:`_derive_ivf_cells` law over ``count(*)`` (mean
    occupancy ~125), computed identically in the oracle's SQL, so the
    blocked pair mass stays LINEAR in n (the round-8 sf1.0 sweep measured
    fixed k=16 at 33.7× on 10× data; derived cells restore ~linear).
    Recall loss = near-dup pairs straddling a cell boundary; standard
    mitigation is multi-assignment, same idea as nprobe. Oracled
    end-to-end because the md5-anchor quantizer is SQL-expressible."""
    corpus = _ivf_assign(spark, sf_dir)
    if corpus is None:
        # empty corpus ⇒ no cells to block into (np.stack([]) cannot build
        # the anchor matrix); empty-in → empty-out like the oracle
        return spark.createDataFrame([], "vec_a long, vec_b long, cos_sim double")
    return _ivf_cell_pairs(corpus)


def _cell_edges(pdf):
    """(ids, edges) for one IVF cell: ``ids`` its vec_ids sorted, and
    ``edges`` an iterator of (ia, ib, cos) per ``cos_tiles`` slab — the
    index pairs with ids[ia] < ids[ib] whose rounded cosine is ≥ the
    threshold. The shared kernel of :func:`_ivf_cell_pairs` and
    :func:`_ivf_cell_labels`. The cell law targets ~125 mean occupancy,
    but a SKEWED cell (near-identical vectors collapsing into one quantizer
    slot) is unbounded, and a full c×c matrix in one task is the
    O(cell²)-memory hazard the hot-bucket caps exist for elsewhere; slabs
    bound intermediates to O(TILE_ROWS·c)."""
    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    V, nrm = _batch_vectors(pdf)

    def edges():
        for i0, _raw, cos in cos_tiles(V, V, nrm, nrm):
            keep = (ids[i0:i0 + TILE_ROWS, None] < ids[None, :]) & (
                cos >= NEARDUP_COS_THRESHOLD)
            ia, ib = np.nonzero(keep)
            if ia.size:
                yield ia + i0, ib, cos[ia, ib]

    return ids, edges()


def _ivf_cell_pairs(corpus: DataFrame) -> DataFrame:
    """Per-IVF-cell near-dup pair generation over an :func:`_ivf_assign`
    frame (shared by :func:`dedup_embedding_ivf` and
    :func:`semdedup_prune`)."""
    import pandas as pd

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                              "vec_b": pd.Series(dtype="int64"),
                              "cos_sim": pd.Series(dtype="float64")})
        if len(pdf) < 2:
            return empty
        ids, edges = _cell_edges(pdf)
        parts = list(edges)
        if not parts:
            return empty
        return pd.DataFrame({"vec_a": ids[np.concatenate([p[0] for p in parts])],
                             "vec_b": ids[np.concatenate([p[1] for p in parts])],
                             "cos_sim": np.concatenate([p[2] for p in parts])})

    return corpus.groupBy("cid").applyInPandas(
        cell_pairs, "vec_a long, vec_b long, cos_sim double"
    )


def _ivf_cell_labels(corpus: DataFrame) -> DataFrame:
    """(vec_id, cluster_id) — connected-component labels of the ≥-threshold
    cosine pair graph over an :func:`_ivf_assign` frame, computed CELL-LOCALLY
    (r15 optimization for :func:`semdedup_prune`): pairs only ever form
    between vectors of the SAME IVF cell, so components never span cells —
    the component labeling is a per-cell union-find run inside the very task
    that enumerates the pairs (``dedup.min_root_forest``, the vectorized
    kernel that ``dedup.connected_components`` also runs on the driver once
    its graph is small), instead of shipping the pair list through O(log n)
    global large-star/small-star rounds (each round = multiple shuffles + a driver
    fixpoint probe; measured 73 Spark jobs for one semdedup_prune at sf0.1,
    almost all CC rounds). Same contract as ``connected_components`` over
    ``_ivf_cell_pairs``: only vectors appearing in ≥1 pair get a row,
    ``cluster_id`` = min member vec_id (union-find roots keep the smaller
    index; ids are processed sorted).
    The pairs come from :func:`_ivf_cell_pairs`'s own kernel
    (:func:`_cell_edges`), so the grouped pair set, and therefore the
    labeling, matches the oracle's recursive CTE exactly. Pinned against
    the global-CC form by
    tests/test_similarity.py::test_cell_labels_match_global_cc."""
    import pandas as pd

    def cell_labels(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": pd.Series(dtype="int64"),
                              "cluster_id": pd.Series(dtype="int64")})
        if len(pdf) < 2:
            return empty
        ids, edges = _cell_edges(pdf)
        parent = np.arange(len(ids))
        touched = np.zeros(len(ids), dtype=bool)
        # per slab, the kept pairs' index arrays go straight into the shared
        # vectorized union-find; ids are sorted, so each root (the
        # component's smallest index) is its min vec_id
        for ia, ib, _cos in edges:
            touched[ia] = True
            touched[ib] = True
            parent = min_root_forest(parent, ia, ib)
        if not touched.any():
            return empty
        idx = np.nonzero(touched)[0]
        return pd.DataFrame({"vec_id": ids[idx], "cluster_id": ids[parent[idx]]})

    return corpus.groupBy("cid").applyInPandas(
        cell_labels, "vec_id long, cluster_id long"
    )


EMBEDDING_IVF_DEDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0),
params AS (SELECT greatest({N_CENTROIDS}, least({IVF_DEDUP_MAX_CELLS},
                  CAST(ceil(CAST(count(*) AS DOUBLE) / {IVF_TARGET_CELL}) AS INT))) AS nc
           FROM embeddings),
anchors AS (
  SELECT cid, av, an FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
           v AS av, nrm AS an
    FROM e
  ) ranked, params p
  WHERE ranked.cid < p.nc
),
affinity AS (
  SELECT e.vec_id, e.v, e.nrm, a.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {duck_cos('e.v', 'a.av', 'e.nrm', 'a.an')} DESC,
                    a.cid ASC) AS rn
  FROM e CROSS JOIN anchors a
),
assigned AS (SELECT vec_id, v, nrm, cid FROM affinity WHERE rn = 1)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {duck_cos('a.v', 'b.v', 'a.nrm', 'b.nrm')} AS cos_sim
FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE {duck_cos('a.v', 'b.v', 'a.nrm', 'b.nrm')} >= {NEARDUP_COS_THRESHOLD}
"""


def semdedup_prune(spark: SparkSession, sf_dir: str,
                   stats: dict | None = None) -> DataFrame:
    """(vec_id, cluster_id, aff, kept): SemDeDup (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public method) as a relational composition: cluster
    the embedding space with the coarse quantizer, form semantic-duplicate
    groups INSIDE each cluster from pairs above the cosine threshold, and
    per group keep exactly ONE example — the member with the LOWEST
    affinity to its cluster centroid (the paper's low-similarity-to-
    centroid choice: prefer the group's least prototypical member), ties
    to the lowest vec_id. Composed entirely from registered machinery:
    :func:`_ivf_assign` (cells + centroid affinities, ONE Arrow pass,
    shared via a lineage cut), :func:`_ivf_cell_pairs` (Σ cell² bounded
    pair mass), two-star connected components (O(log n) rounds), and the
    ``dedup_apply_quality`` election pattern (two bounded aggregations —
    min-affinity per group, min-id among the minimum; the affinity is
    rounded at COS_ROUND in BOTH engines, so the equality join is
    engine-safe, never a raw-float comparison). Vectors in no duplicate
    group are their own singleton (kept = true); zero-norm vectors are
    outside cosine space per the engine-wide convention. Fully oracled:
    the same quantizer/CC/election as one DuckDB recursive CTE.

    ``stats``: optional dict, filled with the CC round count for the skew
    bench. Since r15 the component labeling is CELL-LOCAL
    (:func:`_ivf_cell_labels` — pairs only form within an IVF cell, so
    components never span cells and the union-find rides the pair kernel's
    own task; the global large-star/small-star rounds this used to run were
    most of the query's 73 Spark jobs at sf0.1). ``stats['rounds']`` is
    therefore 0: no global rounds exist anymore — the log-round CC evidence
    lives on in the text-dedup tier (``dedup_clusters_twostar``), whose
    LSH-band edges genuinely span buckets."""
    corpus = _ivf_assign(spark, sf_dir)
    if corpus is None:
        return spark.createDataFrame(
            [], "vec_id long, cluster_id long, aff double, kept boolean"
        )
    # two consumers (labels + election) — cut once, compute the Arrow
    # assignment pass once
    corpus = corpus.localCheckpoint(eager=False)
    labels = _ivf_cell_labels(corpus)
    if stats is not None:
        stats["rounds"] = 0  # cell-local union-find; no global CC rounds
    full = (
        corpus.select("vec_id", "aff")
        .join(labels, "vec_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "vec_id"))
    )
    # ONE aggregation elects the keeper (r15): min over (aff, vec_id) structs
    # is lexicographic — the minimum affinity, then the lowest vec_id among
    # ties — exactly the former min-aff-then-min-id two-step (aff is never
    # NULL here: every assigned vector carries a rounded cosine), for one
    # shuffle instead of an aggregate + an equality join + a second aggregate
    keeper = (
        full.groupBy("cluster_id")
        .agg(F.min(F.struct("aff", "vec_id")).alias("s"))
        .select("cluster_id", F.col("s.vec_id").alias("keep_id"))
    )
    return full.join(keeper, "cluster_id").select(
        "vec_id", "cluster_id", "aff",
        (F.col("vec_id") == F.col("keep_id")).alias("kept"),
    )


SEMDEDUP_ORACLE = f"""
WITH RECURSIVE
e AS (SELECT vec_id, {duck_cast_double('embedding')} AS v,
             {duck_norm(duck_cast_double('embedding'))} AS nrm
      FROM embeddings WHERE nrm > 0),
params AS (SELECT greatest({N_CENTROIDS}, least({IVF_DEDUP_MAX_CELLS},
                  CAST(ceil(CAST(count(*) AS DOUBLE) / {IVF_TARGET_CELL}) AS INT))) AS nc
           FROM embeddings),
anchors AS (
  SELECT cid, av, an FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
           v AS av, nrm AS an
    FROM e
  ) ranked, params p
  WHERE ranked.cid < p.nc
),
affinity AS (
  SELECT e.vec_id, e.v, e.nrm, a.cid,
         {duck_cos('e.v', 'a.av', 'e.nrm', 'a.an')} AS aff,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {duck_cos('e.v', 'a.av', 'e.nrm', 'a.an')} DESC,
                    a.cid ASC) AS rn
  FROM e CROSS JOIN anchors a
),
assigned AS (SELECT vec_id, v, nrm, cid, aff FROM affinity WHERE rn = 1),
prs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {duck_cos('a.v', 'b.v', 'a.nrm', 'b.nrm')} >= {NEARDUP_COS_THRESHOLD}
),
edges AS (SELECT va AS a, vb AS b FROM prs UNION SELECT vb AS a, va AS b FROM prs),
reach AS (
  SELECT a, a AS r FROM (SELECT DISTINCT a FROM edges) nodes0
  UNION
  SELECT ed.a, reach.r FROM edges ed JOIN reach ON reach.a = ed.b
),
labels AS (SELECT a AS vec_id, min(r) AS cluster_id FROM reach GROUP BY a),
full_t AS (
  SELECT s.vec_id, coalesce(l.cluster_id, s.vec_id) AS cluster_id, s.aff
  FROM assigned s LEFT JOIN labels l ON l.vec_id = s.vec_id
),
m AS (SELECT cluster_id, min(aff) AS ma FROM full_t GROUP BY cluster_id),
keeper AS (
  SELECT f.cluster_id, min(f.vec_id) AS keep_id
  FROM full_t f JOIN m ON m.cluster_id = f.cluster_id AND f.aff = m.ma
  GROUP BY f.cluster_id
)
SELECT f.vec_id, f.cluster_id, f.aff, (f.vec_id = k.keep_id) AS kept
FROM full_t f JOIN keeper k ON k.cluster_id = f.cluster_id
"""


# representatives kept per IVF cell by the coverage sampler
DIVERSE_PER_CELL = 3


def diverse_sample_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, aff, rk): coverage-aware diverse sampling — keep the
    ``DIVERSE_PER_CELL`` most-prototypical members (highest COS_ROUND-rounded
    affinity to the cell anchor, ties to the lowest vec_id) of EVERY IVF
    cell. The data-selection counterpart of :func:`semdedup_prune`: where
    SemDeDup removes redundancy inside semantic-duplicate groups, this picks
    a small subset that still SPANS the embedding space — every occupied
    quantizer slot contributes, so no region of the corpus is silently
    dropped (the k-center coverage objective, greedily approximated by the
    quantizer's own partition).

    Scale shape: ONE Arrow assignment pass (:func:`_ivf_assign`, shared
    machinery with the dedup/semdedup tier), then a window partitioned by
    CELL — per-task work is bounded by cell occupancy, which the
    ``_derive_ivf_cells`` law holds at ~125 mean regardless of corpus size.
    No global window, no collect; output is O(cells · DIVERSE_PER_CELL).
    Fully oracled: the md5-anchor quantizer is SQL-expressible, and the
    affinity is rounded at COS_ROUND before ranking in BOTH engines."""
    corpus = _ivf_assign(spark, sf_dir)
    if corpus is None:
        return spark.createDataFrame(
            [], "vec_id long, cid long, aff double, rk long"
        )
    w = Window.partitionBy("cid").orderBy(F.desc("aff"), F.asc("vec_id"))
    return (
        corpus.select("vec_id", F.col("cid").cast("long").alias("cid"), "aff")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= DIVERSE_PER_CELL)
    )


DIVERSE_SAMPLE_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0),
params AS (SELECT greatest({N_CENTROIDS}, least({IVF_DEDUP_MAX_CELLS},
                  CAST(ceil(CAST(count(*) AS DOUBLE) / {IVF_TARGET_CELL}) AS INT))) AS nc
           FROM embeddings),
anchors AS (
  SELECT cid, av, an FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
           v AS av, nrm AS an
    FROM e
  ) ranked, params p
  WHERE ranked.cid < p.nc
),
affinity AS (
  SELECT e.vec_id, a.cid,
         {duck_cos('e.v', 'a.av', 'e.nrm', 'a.an')} AS aff,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {duck_cos('e.v', 'a.av', 'e.nrm', 'a.an')} DESC,
                    a.cid ASC) AS rn
  FROM e CROSS JOIN anchors a
),
assigned AS (SELECT vec_id, cid, aff FROM affinity WHERE rn = 1)
SELECT vec_id, CAST(cid AS BIGINT) AS cid, aff, rk FROM (
  SELECT vec_id, cid, aff,
         row_number() OVER (PARTITION BY cid
                            ORDER BY aff DESC, vec_id ASC) AS rk
  FROM assigned
) ranked WHERE rk <= {DIVERSE_PER_CELL}
"""


TOP_PAIRS = 20


def embedding_topk_pairs(spark: SparkSession, sf_dir: str,
                         top_pairs: int = TOP_PAIRS) -> DataFrame:
    """(vec_a, vec_b, cos_sim): the globally most-similar embedding pairs,
    exact — the block-matmul all-pairs operator (``operators/allpairs.py``)
    over the embeddings table, oracled against DuckDB's brute-force
    three-way-join form. Complements the ANN queries: this is the exact
    answer their recall is measured against, at a physical shape (replicated
    block tiles + numpy matmul + tile-local top-k) that survives corpus sizes
    where the naive pair join cannot."""
    from tf_idf_using_mapreduce_spark.operators.allpairs import cosine_topk_pairs

    vecs = _vectors(spark, sf_dir)
    pairs = cosine_topk_pairs(vecs, top_pairs, id_col="vec_id", vec_col="v")
    return pairs.select(
        F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"), "cos_sim"
    )


EMBEDDING_TOPK_PAIRS_ORACLE = f"""
WITH e AS (SELECT vec_id, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0),
scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {duck_dot('a.v', 'b.v')} AS dot,
         {duck_cos('a.v', 'b.v', 'a.nrm', 'b.nrm')} AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM scored
WHERE dot <> 0
ORDER BY cos_sim DESC, vec_a ASC, vec_b ASC
LIMIT {TOP_PAIRS}
"""


# recall floors for the driver-gated recall twins: deliberately BELOW the
# tighter pytest pins (kmeans ≥ 0.4 at smoke SF) so the driver check fails
# only on real regressions, not fixture-noise — but far above the ~k/n
# random-guess recall, so a broken quantizer/join cannot pass.
RECALL_FLOOR_KMEANS = 0.3
RECALL_FLOOR_MLLIB = 0.3


def _recall_twin(approx: DataFrame, exact: DataFrame, floor: float) -> DataFrame:
    """(n_true, recall_ok): aggregate recall of ``approx`` against the exact
    top-k ``exact``, thresholded — the SQL-expressible VALUE CHECK for ANN
    variants whose trained state (k-means centroids, MLlib LSH hashes) is not
    itself SQL-expressible. The oracle side reproduces ``n_true`` (the exact
    top-k row count) and pins ``recall_ok = 1``; if recall regresses below
    ``floor`` the value hash mismatches. One left-semi join on
    (query_id, neighbor_id) + two scalar aggregates — metadata-scale."""
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    total = exact.agg(F.count(F.lit(1)).alias("n_true"))
    return total.crossJoin(F.broadcast(hits)).select(
        "n_true",
        (F.col("hits") >= F.lit(floor) * F.col("n_true")).cast("int").alias("recall_ok"),
    )


def ann_topk_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated recall of the trained-quantizer IVF vs brute force."""
    exact = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = ann_topk_ivf_kmeans(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_twin(approx, exact, RECALL_FLOOR_KMEANS)


def ann_topk_mllib_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated recall of the MLlib BucketedRandomProjectionLSH twin vs
    brute force (euclidean on the normalized vectors is rank-equivalent to
    cosine, so the exact cosine top-k is the right truth set)."""
    exact = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = ann_topk_mllib(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_twin(approx, exact, RECALL_FLOOR_MLLIB)


ANN_RECALL_TWIN_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_true, 1 AS recall_ok
FROM ({ANN_BRUTEFORCE_ORACLE}) exact_topk
"""


def ann_topk_mllib(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH twin (rows-only check): approximate
    top-k by euclidean distance on the normalized vectors."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    # checkpointed: fit, the join's two hash explodes, and the dist pass
    # each re-run the parquet scan + normalize + array_to_vector lineage
    # otherwise (the tfidf_mllib recompute disease, same fix)
    vecs = _vectors(spark, sf_dir).select(
        "vec_id",
        array_to_vector(F.expr("transform(v, x -> x / nrm)")).alias("features"),
    ).localCheckpoint(eager=False)
    # LSH.fit raises on an empty corpus (found by tools/degenerate_check.py);
    # the probe also materializes the checkpoint the fit then reuses
    if vecs.isEmpty():
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, dist double, rk int"
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5, numHashTables=4, seed=42
    )
    model = lsh.fit(vecs)
    q = vecs.where(F.col("vec_id") < N_QUERIES)
    joined = model.approxSimilarityJoin(q, vecs, 2.0, distCol="dist")
    out = joined.select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("neighbor_id"),
        F.round("dist", COS_ROUND).alias("dist"),
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return out.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


# --------------------------------------------------------------------------- #
# embedding outliers: per-label centroid + residual cosine (r5)
# --------------------------------------------------------------------------- #

OUTLIER_K = 5


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, vec_id, cos_centroid, rk): the ``OUTLIER_K`` vectors FURTHEST
    from their label's centroid (lowest cosine) — the embedding-space
    quality filter (mislabeled/degenerate points sit far from their
    cluster's mean; LAION-style pipelines drop exactly these). Shape:
    posexplode -> per-(label, dim) mean (map-side partials collapse this to
    labels x 64 rows), centroid arrays reassembled declaratively, then the
    TINY centroid table broadcasts back and the residual cosine is one
    codegen zip-with pass over the vectors — the big side is scanned twice
    but never joined to itself. Ranking on rounded cosine with vec_id
    tie-break (file-wide convention) so float last-bits can't flip order.
    The per-dim centroid mean is ROUNDED (9dp — well beyond the cosine's
    own 4dp contract) before the dot product: an unordered float avg
    differs in last bits between Spark's and DuckDB's partial-aggregation
    orders, and feeding identical centroids to both engines removes the
    one unrounded float either side consumed (round-6 advisor note)."""
    vecs = _vectors(spark, sf_dir)
    ex = vecs.select("vec_id", "label", F.posexplode("v").alias("pos", "val"))
    cent = (
        ex.groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 9).alias("cval"))
        .groupBy("label")
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(pos, cval))), x -> x.cval)"
        ).alias("cv"))
        .withColumn("cn", F.expr(spark_norm("cv")))
        .where(F.col("cn") > 0)
    )
    cos = spark_cos("v", "cv", "nrm", "cn")
    scored = vecs.join(F.broadcast(cent), "label").select(
        "label", "vec_id", cos.alias("cos_centroid")
    )
    # two-phase per-label bottom-K (round 6): label is a LOW-cardinality
    # key, so a bare per-label rank drags vectors/n_labels rows through one
    # task at scale. Rank within (label, hash shard) first — keep each
    # shard's bottom-K — then re-rank the <= K×shards survivors per label.
    # Identical result for any shard count (every global bottom-K member is
    # in its shard's bottom-K); the oracle stays the textbook one-window
    # form. Same pruning as curation.stratified_sample.
    from tf_idf_using_mapreduce_spark.operators.packing import (
        _derive_shard_count,
        _input_bytes,
    )

    n_shards = _derive_shard_count(_input_bytes(vecs), 32)
    shard = f"cast(conv(substr(md5(cast(vec_id as string)), 1, 8), 16, 10) as bigint) % {n_shards}"
    w1 = Window.partitionBy("label", "shard").orderBy(
        F.asc("cos_centroid"), F.asc("vec_id")
    )
    cand = (
        scored.withColumn("shard", F.expr(shard))
        .withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= OUTLIER_K)
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_centroid"), F.asc("vec_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= OUTLIER_K)
        .select("label", "vec_id", "cos_centroid", "rk")
    )


# --------------------------------------------------------------------------- #
# leave-one-out 1-NN label agreement (label-noise estimate, r6)
# --------------------------------------------------------------------------- #

def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_vecs, nn_same): for every vector, does its EXACT nearest
    neighbor (cosine, excluding self) carry the same label? — the standard
    leave-one-out kNN consistency estimate of label noise in an embedding
    space (clean labels ⇒ high agreement; a shuffled-label column ⇒
    ~1/n_labels). Exact 1-NN runs on the replicated block-matmul machinery
    (``allpairs.cosine_nn1``: O(n·P) candidates, never an n² intermediate);
    beyond ~10⁶ vectors the LSH/IVF candidate routes take over with this
    as their oracle, like every exact all-pairs twin in this file.
    Outputs are integers (order-proof); vectors whose every dot product is
    exactly 0 have no defined neighbor and are absent on both engines."""
    from tf_idf_using_mapreduce_spark.operators.allpairs import cosine_nn1

    vecs = _vectors(spark, sf_dir)
    nn = cosine_nn1(vecs, id_col="vec_id", vec_col="v", nrm_col="nrm")
    lab = vecs.select("vec_id", "label")
    own = lab.select(F.col("vec_id").alias("id"), F.col("label").alias("own"))
    nbr = lab.select(F.col("vec_id").alias("nn_id"), F.col("label").alias("nbr"))
    return (
        nn.join(own, "id").join(nbr, "nn_id")
        .groupBy(F.col("own").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("own") == F.col("nbr")).cast("long")).alias("nn_same"),
        )
    )


KNN_LABEL_AGREEMENT_ORACLE = f"""
WITH e AS (SELECT vec_id, label, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0),
scored AS (
  SELECT a.vec_id, a.label AS own, b.vec_id AS nbr_id, b.label AS nbr,
         {duck_dot('a.v', 'b.v')} AS dot,
         {duck_cos('a.v', 'b.v', 'a.nrm', 'b.nrm')} AS cos_sim
  FROM e a JOIN e b ON b.vec_id <> a.vec_id
),
nn AS (
  SELECT vec_id, own, nbr,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_sim DESC, nbr_id ASC) AS rk
  FROM scored WHERE dot <> 0
)
SELECT own AS label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN own = nbr THEN 1 ELSE 0 END) AS BIGINT) AS nn_same
FROM nn WHERE rk = 1
GROUP BY own
"""


# hot sign-buckets (embedding mass collapsing onto one orthant — the
# vector-space analogue of boilerplate band keys) are amputated from the
# CANDIDATE side before the bucket join, mirrored in the oracle; queries
# in a hot bucket still reach neighbors through their ≤ hamming-2 probes
KNN_LSH_BUCKET_CAP = 256


def knn_label_agreement_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_vecs, nn_same): the SCALE ROUTE for
    :func:`knn_label_agreement` — 1-NN restricted to multi-probe sign-LSH
    candidates (every bucket within hamming ≤ 2 of the query's own
    sign-bit bucket) instead of the exact all-pairs block matmul. This is
    the handoff the exact operator's docstring promises beyond ~10⁶
    vectors: candidate volume is Σ over buckets of (probes landing there ×
    min(bucket, cap)) — bucketed, never n². The probe fan-out (37 keys)
    rides the QUERY side of a plain equi-join; the candidate side keeps
    one bucket key and hot buckets are capped like every LSH operator in
    this engine (``KNN_LSH_BUCKET_CAP``, mirrored in the oracle, so capped
    output stays hash-checked). The key WIDTH is not fixed: it follows the
    :func:`_derive_sign_bits` law over ``count(*)`` (mean occupancy 2), so
    candidate mass stays linear in n instead of n²/2⁸ — the oracle derives
    the identical width in SQL and builds its buckets/probes dynamically,
    keeping full hash parity at every scale. The per-query 1-NN is a
    window over ≤ n_probes × cap candidate rows — bounded by construction,
    independent of corpus size. Fully oracled: the blocking is
    deterministic SQL, so DuckDB reproduces the entire route; the pytest
    twin additionally pins 1-NN recall against the exact form (same
    pattern as ann_topk_*_recall). Zero-dot pairs excluded per the file's
    sparse-join convention."""
    bits = _derive_sign_bits(load_table(spark, sf_dir, "embeddings").count())
    nn = _lsh_nn1(_vectors(spark, sf_dir), bits)
    return nn.groupBy(F.col("own").alias("label")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum((F.col("own") == F.col("nbr")).cast("long")).alias("nn_same"),
    )


def _lsh_nn1(vecs: DataFrame, bits: int = LSH_SIGN_DIMS) -> DataFrame:
    """(qid, own, nid, nbr, cos_sim): each vector's 1-NN among its
    multi-probe sign-LSH candidates — the shared core of
    :func:`knn_label_agreement_lsh` and the pytest recall gate (which
    compares this frame's nid against ``allpairs.cosine_nn1``)."""
    from tf_idf_using_mapreduce_spark.operators.dedup import _drop_hot_buckets

    # lineage cut before the probe fan-out (the frame is read TWICE:
    # candidate side + query side). The bucket key is the INTEGER value of
    # the sign-bit string: probe generation then becomes `bucket XOR mask`
    # against a ≤ 1+B+C(B,2)-row broadcast mask table — a fully-codegen
    # constant-side crossJoin — instead of a Generate over B²/2 string-
    # surgery expressions (measured 5.3 s of the sf1.0 wall by itself),
    # and the bucket join/shuffle compares longs, not strings. The probe
    # SET is identical (XOR with a weight-≤2 mask ⟺ flipping ≤2 sign
    # bits), so the oracle's string-keyed blocking groups exactly the
    # same vectors.
    vb = (vecs.withColumn(
            "bucket",
            F.expr(f"cast(conv({_sign_bucket_spark('v', bits)}, 2, 10) as bigint)"))
          .localCheckpoint(eager=False))
    cand = _drop_hot_buckets(
        vb.select("bucket", F.col("vec_id").alias("nid"),
                  F.col("label").alias("nbr"), "v", "nrm"),
        ["bucket"], KNN_LSH_BUCKET_CAP,
    )
    masks = ([0] + [1 << i for i in range(bits)]
             + [(1 << i) | (1 << j)
                for i in range(bits) for j in range(i + 1, bits)])
    mdf = vecs.sparkSession.createDataFrame([(m,) for m in masks], "mask bigint")
    q = vb.crossJoin(F.broadcast(mdf)).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("own"),
        F.col("v").alias("qv"), F.col("nrm").alias("qn"),
        F.col("bucket").bitwiseXOR(F.col("mask")).alias("bucket"),
    )
    # Per-BUCKET numpy GEMM instead of a per-pair join + interpreted
    # aggregate(zip_with(...)) fold: higher-order array expressions never
    # enter codegen (the dedup_embedding_ivf disease), and a per-pair form
    # ships BOTH 64-dim vectors across Arrow once per candidate pair
    # (~2.6M × 1 KB at sf1.0 — measured to dominate wall). Here each
    # vector crosses the shuffle/Arrow boundary once per bucket it appears
    # in (candidates once, queries once per probe), the Q×C dots are one
    # tiny matmul per bucket (Q ≲ probes×occupancy, C ≤ cap), and only the
    # bucket-local best per query leaves Python. Probes are pairwise-
    # distinct keys and each candidate holds ONE key, so a (qid, nid) pair
    # arises at most once globally — bucket-local bests are over disjoint
    # candidate sets and the global window below reduces them exactly.
    # Per-element math is the shared kernel (functions/vectors.py):
    # cos_tile's dot/(nq·nc) rounded at COS_ROUND, a structural-zero
    # filter, and best_per_row's ties to the smallest nid.
    both = cand.select(
        "bucket", F.col("nid").alias("id"), F.col("nbr").alias("lab"),
        "v", "nrm", F.lit(False).alias("is_q"),
    ).unionByName(q.select(
        "bucket", F.col("qid").alias("id"), F.col("own").alias("lab"),
        F.col("qv").alias("v"), F.col("qn").alias("nrm"),
        F.lit(True).alias("is_q"),
    ))

    # partition-level grouping (repartition by bucket + manual contiguous
    # slicing) instead of applyInPandas: 2^bits tiny groups would pay a
    # per-group pandas-frame cost; here each task concatenates its ~40 MB
    # of Arrow batches once and slices buckets with numpy boundaries
    def _part_best(batches):
        import pandas as pd

        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        order = np.argsort(pdf["bucket"].to_numpy(), kind="stable")
        bk = pdf["bucket"].to_numpy()[order]
        ids = pdf["id"].to_numpy()[order]
        labs = pdf["lab"].to_numpy()[order]
        isq = pdf["is_q"].to_numpy()[order]
        nrm = pdf["nrm"].to_numpy()[order]
        V = np.stack(pdf["v"].to_numpy()[order])
        starts = np.flatnonzero(np.r_[True, bk[1:] != bk[:-1]])
        bounds = np.r_[starts, len(bk)]
        o_q, o_o, o_n, o_b, o_c = [], [], [], [], []
        for s, t in zip(bounds[:-1], bounds[1:]):
            qm = isq[s:t]
            if qm.all() or not qm.any():
                continue
            cm = ~qm
            qid, nid = ids[s:t][qm], ids[s:t][cm]
            co = np.argsort(nid)
            nid = nid[co]
            nlab = labs[s:t][cm][co]
            Sc, M = cos_tile(V[s:t][qm], V[s:t][cm][co],
                             nrm[s:t][qm], nrm[s:t][cm][co])
            valid = (Sc != 0.0) & (qid[:, None] != nid[None, :])
            M[~valid] = -np.inf
            ok, nb, mx = best_per_row(M, nid)
            if not ok.any():
                continue
            ci = np.searchsorted(nid, nb)
            o_q.append(qid[ok]); o_o.append(labs[s:t][qm][ok])
            o_n.append(nb); o_b.append(nlab[ci]); o_c.append(mx)
        if o_q:
            yield pd.DataFrame({
                "qid": np.concatenate(o_q), "own": np.concatenate(o_o),
                "nid": np.concatenate(o_n), "nbr": np.concatenate(o_b),
                "cos_sim": np.concatenate(o_c),
            })

    scored = both.repartition("bucket").mapInPandas(
        _part_best, "qid bigint, own int, nid bigint, nbr int, cos_sim double"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )


def _knn_label_agreement_lsh_oracle() -> str:
    # The key width is DERIVED IN SQL from count(*) — the verbatim
    # _derive_sign_bits law — and buckets/probes are built dynamically at
    # that width, so this one static oracle string reproduces the Spark
    # route at every scale (8 bits on the 500-vec fixtures, 10 at sf0.1).
    # A probe is the bucket with positions f1/f2 flipped (0 = no flip):
    # (0,0) identity + (i,0) hamming-1 + (i,j>i) hamming-2 — distinct
    # masks give distinct strings, so no (qid,nid) pair arises twice.
    return f"""
WITH e AS (SELECT vec_id, label, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0),
params AS (SELECT greatest({LSH_SIGN_DIMS}, least({LSH_SIGN_DIMS_MAX},
                  CAST(ceil(log2(CAST(greatest(count(*), 2) AS DOUBLE) / 2.0)) AS INT))) AS nb
           FROM embeddings),
b AS (SELECT e.*,
             array_to_string(list_transform(e.v[1:p.nb],
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
      FROM e, params p),
hot AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) > {KNN_LSH_BUCKET_CAP}),
c AS (SELECT * FROM b bb
      WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.bucket = bb.bucket)),
flips AS (
  SELECT 0 AS f1, 0 AS f2
  UNION ALL
  SELECT i, 0 FROM (SELECT unnest(range(1, nb + 1)) AS i FROM params)
  UNION ALL
  SELECT i, j
  FROM (SELECT unnest(range(1, nb + 1)) AS i FROM params) fa,
       (SELECT unnest(range(1, nb + 1)) AS j FROM params) fb
  WHERE fb.j > fa.i
),
qp AS (
  SELECT qid, own, qv, qn,
         CASE WHEN f2 = 0 THEN s1
              ELSE substr(s1, 1, f2 - 1) ||
                   (CASE WHEN substr(s1, f2, 1) = '1' THEN '0' ELSE '1' END) ||
                   substr(s1, f2 + 1) END AS bucket
  FROM (
    SELECT bq.vec_id AS qid, bq.label AS own, bq.v AS qv, bq.nrm AS qn, f.f2,
           CASE WHEN f.f1 = 0 THEN bq.bucket
                ELSE substr(bq.bucket, 1, f.f1 - 1) ||
                     (CASE WHEN substr(bq.bucket, f.f1, 1) = '1' THEN '0' ELSE '1' END) ||
                     substr(bq.bucket, f.f1 + 1) END AS s1
    FROM b bq CROSS JOIN flips f
  ) flipped
),
scored AS (
  SELECT qp.qid, qp.own, c.vec_id AS nid, c.label AS nbr,
         {duck_dot('c.v', 'qp.qv')} AS dot,
         {duck_cos('c.v', 'qp.qv', 'c.nrm', 'qp.qn')} AS cos_sim
  FROM qp JOIN c ON c.bucket = qp.bucket AND c.vec_id <> qp.qid
),
nn AS (
  SELECT qid, own, nbr,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_sim DESC, nid ASC) AS rk
  FROM scored WHERE dot <> 0
)
SELECT own AS label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN own = nbr THEN 1 ELSE 0 END) AS BIGINT) AS nn_same
FROM nn WHERE rk = 1
GROUP BY own
"""


KNN_LABEL_AGREEMENT_LSH_ORACLE = _knn_label_agreement_lsh_oracle()


def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, n_a, n_b, centroid_cos): ENCODER/DISTRIBUTION drift monitor
    in embedding space — per label, the cosine between the centroid of
    snapshot A (even vec_ids, the "previous" batch) and snapshot B (odd,
    the "current"); the vector-space analogue of ``token_drift`` and the
    check a pipeline runs after re-embedding or re-crawling (centroid_cos
    ≈ 1: same manifold; a drop = the encoder changed, inputs shifted, or
    a label's population moved). Both per-side centroids come from ONE
    posexplode aggregation (conditional avgs per side, NULL-skipping),
    each dimension rounded at 9 dp before the dot — the exact
    ``embedding_outliers`` float discipline its oracle proved. The
    dot/norm reductions then run in EXACT integer units: each 9-dp
    centroid component becomes a 1e-9-grid integer, products/sums stay
    DECIMAL(38,0) (DuckDB HUGEINT), and the single double division +
    sqrt happen only at the end — so no cross-row float-sum ORDER can
    perturb the rounded cosine (the q9/q11 widen-before-multiply
    discipline). Labels missing a side or with a zero-norm centroid are
    excluded on both engines (no defined direction)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(CAST_DOUBLE.format(v="embedding")).alias("v")
    ).withColumn("nrm", F.expr(spark_norm("v"))).where(F.col("nrm") > 0)
    ex = e.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("in_a"),
        F.posexplode("v").alias("pos", "val"),
    )
    cent = ex.groupBy("label", "pos").agg(
        F.round(F.avg(F.when(F.col("in_a"), F.col("val"))), 9).alias("ca"),
        F.round(F.avg(F.when(~F.col("in_a"), F.col("val"))), 9).alias("cb"),
    )
    centi = cent.select(
        "label",
        F.round(F.col("ca") * 1e9).cast("decimal(38,0)").alias("ca9"),
        F.round(F.col("cb") * 1e9).cast("decimal(38,0)").alias("cb9"),
    )
    per = centi.groupBy("label").agg(
        (F.sum(F.col("ca9") * F.col("cb9")).cast("double") / F.lit(1e18))
        .alias("dot"),
        F.sqrt(F.sum(F.col("ca9") * F.col("ca9")).cast("double") / F.lit(1e18))
        .alias("na"),
        F.sqrt(F.sum(F.col("cb9") * F.col("cb9")).cast("double") / F.lit(1e18))
        .alias("nb"),
    )
    # count(when(...)) not sum(cast(...)): all-NULL vec_id groups must
    # count 0 like the oracle's CASE-sum, not NULL
    counts = e.groupBy("label").agg(
        F.count(F.when(F.col("vec_id") % 2 == 0, True)).alias("n_a"),
        F.count(F.when(F.col("vec_id") % 2 != 0, True)).alias("n_b"),
    )
    return (
        per.join(counts, "label")
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "label", "n_a", "n_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), COS_ROUND)
            .alias("centroid_cos"),
        )
    )


EMBEDDING_CENTROID_SHIFT_ORACLE = f"""
WITH e AS (SELECT vec_id, label, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0),
ex AS (SELECT label, (vec_id % 2 = 0) AS in_a, unnest(v) AS val,
              unnest(range(1, len(v) + 1)) AS pos
       FROM e),
cent AS (
  SELECT label, pos,
         round(avg(CASE WHEN in_a THEN val END), 9) AS ca,
         round(avg(CASE WHEN NOT in_a THEN val END), 9) AS cb
  FROM ex GROUP BY label, pos
),
centi AS (
  SELECT label, CAST(round(ca * 1e9) AS HUGEINT) AS ca9,
         CAST(round(cb * 1e9) AS HUGEINT) AS cb9
  FROM cent
),
per AS (
  SELECT label, CAST(sum(ca9 * cb9) AS DOUBLE) / 1e18 AS dot,
         sqrt(CAST(sum(ca9 * ca9) AS DOUBLE) / 1e18) AS na,
         sqrt(CAST(sum(cb9 * cb9) AS DOUBLE) / 1e18) AS nb
  FROM centi GROUP BY label
),
counts AS (
  SELECT label,
         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM e GROUP BY label
)
SELECT p.label, c.n_a, c.n_b,
       round(p.dot / (p.na * p.nb), {COS_ROUND}) AS centroid_cos
FROM per p JOIN counts c ON c.label = p.label
WHERE p.na > 0 AND p.nb > 0
"""


EMBEDDING_OUTLIERS_ORACLE = f"""
WITH e AS (SELECT vec_id, label, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0),
ex AS (SELECT vec_id, label, unnest(v) AS val,
              unnest(range(1, len(v) + 1)) AS pos
       FROM e),
cent AS (SELECT label, pos, round(avg(val), 9) AS cval FROM ex GROUP BY label, pos),
cn AS (SELECT label, sqrt(sum(cval * cval)) AS cn FROM cent GROUP BY label),
dots AS (SELECT ex.vec_id, ex.label, sum(ex.val * cent.cval) AS dot
         FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
         GROUP BY ex.vec_id, ex.label),
scored AS (SELECT d.label, d.vec_id,
                  round(d.dot / (e.nrm * cn.cn), {COS_ROUND}) AS cos_centroid
           FROM dots d
           JOIN e ON e.vec_id = d.vec_id
           JOIN cn ON cn.label = d.label
           WHERE cn.cn > 0)
SELECT label, vec_id, cos_centroid, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY label
                               ORDER BY cos_centroid ASC, vec_id ASC) AS rk
  FROM scored
) ranked WHERE rk <= {OUTLIER_K}
"""


# --------------------------------------------------------------------------- #
# product quantization (PQ) ANN: compressed-domain search + exact re-rank
# --------------------------------------------------------------------------- #
#
# The missing member of the ANN family (brute / sign-LSH / IVF / IVF-kmeans
# above): at 100 TB the EMBEDDINGS THEMSELVES stop fitting — 1e10 × 1024-dim
# float32 is ~40 TB — and the published answer (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011; the Faiss IVFPQ +
# refine pattern) is to hold an M-byte CODE per vector instead (64× smaller
# here), scan codes with asymmetric distance (ADC: per-query M×K lookup
# tables, no decompression), and spend exact-distance work only on a
# SHORTLIST the code scan selected. Codebooks are classic coordinator state
# (M × K × dim/M floats — kilobytes), trained once on a BOUNDED sample
# (Faiss trains on ~1M of 1e10) and broadcast; the code column is write-once
# index state exactly like the MinHash band table.

PQ_M = 8            # subspaces (64-dim fixture vectors → 8 dims each)
PQ_K = 16           # centroids per subspace → one 4-bit code each, M bytes/vec
PQ_TRAIN_CAP = 4096  # bounded driver-side training sample
PQ_SHORTLIST_FLOOR = 50
PQ_SHORTLIST_FRAC = 0.05  # shortlist = max(floor, frac·n): tracks corpus size
RECALL_FLOOR_PQ = 0.5


def _pq_lloyd(X, k: int, seed: int):
    """Deterministic Lloyd k-means (seeded init, fixed 20 iterations) — the
    subspace trainer. numpy-only so training is reproducible across hosts;
    empty cells keep their previous centroid (standard small-sample Lloyd)."""
    rng = np.random.RandomState(seed)
    k = min(k, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(20):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(k):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(0)
    return C


def _pq_codebooks(spark: SparkSession, sf_dir: str):
    """M per-subspace codebooks trained on a bounded deterministic sample of
    the UNIT-NORMALIZED corpus (md5-ordered — the `_anchor_rows` sampling
    rule, so the sample is engine-reproducible), memoized per corpus
    identity like every quantizer in this module. ``None`` on an empty
    corpus."""
    sig = _corpus_signature(sf_dir)
    key = (sf_dir, "pq", sig)
    if sig is None or key not in _ANCHOR_CACHE:
        rows = (
            _vectors(spark, sf_dir)
            .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
            .limit(PQ_TRAIN_CAP)
            .select(F.expr("transform(v, x -> x / nrm)").alias("u"))
            .collect()
        )
        if not rows:
            books = None
        else:
            X = np.stack([np.asarray(r["u"], dtype=np.float64) for r in rows])
            d = X.shape[1] // PQ_M
            books = [_pq_lloyd(X[:, m * d:(m + 1) * d], PQ_K, seed=m)
                     for m in range(PQ_M)]
        if sig is None:
            return books
        _anchor_cache_put(key, books)
    return _ANCHOR_CACHE[key]


def _pq_query_rows(spark: SparkSession, sf_dir: str):
    """(vecs, qrows): the lineage-cut vector table every PQ search scans
    twice, and its ≤ ``N_QUERIES`` query rows collected driver-side."""
    vecs = _vectors(spark, sf_dir).localCheckpoint(eager=False)
    return vecs, vecs.where(F.col("vec_id") < N_QUERIES).select("vec_id", "v", "nrm").collect()


def _pq_encode(V, nrm, books):
    """rows × PQ_M sub-codes: per subspace, the nearest codebook centroid
    of each unit-normalized row of ``V``."""
    U = V / nrm[:, None]
    d = books[0].shape[1]
    return np.stack([
        ((U[:, None, m * d:(m + 1) * d] - books[m][None, :, :]) ** 2)
        .sum(-1).argmin(1)
        for m in range(PQ_M)
    ], axis=1)


def _pq_query_tables(books, qrows):
    """(qdata, DT): per query row its (vec_id, v, nrm), and its ADC table
    ``DT[vec_id][m, j] = ||u_m - c_mj||²`` over the unit query vector u."""
    d = books[0].shape[1]
    qdata, DT = [], {}
    for r in qrows:
        u = np.asarray(r["v"], dtype=np.float64) / r["nrm"]
        DT[r["vec_id"]] = np.asarray([
            [float(((books[m][j] - u[m * d:(m + 1) * d]) ** 2).sum())
             for j in range(len(books[m]))]
            for m in range(PQ_M)
        ])
        qdata.append((r["vec_id"], r["v"], float(r["nrm"])))
    return qdata, DT


def _adc_frame(ids, codes, DT, cid=None, probes=None):
    """(vec_id, query_id, adist) pandas frame: each query's ADC distance to
    the coded rows — with ``probes``, only to rows whose cell ``cid`` the
    query probes. ``None`` when no row qualifies."""
    import pandas as pd

    out_v, out_q, out_d = [], [], []
    for qid in sorted(DT):
        sel = slice(None) if probes is None else np.isin(cid, list(probes[qid]))
        q_ids = ids[sel]
        if not len(q_ids):
            continue
        out_v.append(q_ids)
        out_q.append(np.full(len(q_ids), qid))
        out_d.append(DT[qid][np.arange(PQ_M)[None, :], codes[sel]].sum(1))
    if not out_v:
        return None
    return pd.DataFrame({
        "vec_id": np.concatenate(out_v),
        "query_id": np.concatenate(out_q),
        "adist": np.concatenate(out_d),
    })


def ann_topk_pq(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rk): PQ ANN with exact re-rank —
    encode every vector to M sub-codes, scan the CODES with per-query ADC
    lookup tables (one Arrow-batched numpy pass: encode + table lookup, the
    `_ivf_assign` convention — higher-order array exprs don't codegen),
    keep a size-derived shortlist per query (max(50, 5% of n) — fixed
    shortlists go quadratic-blind as n grows), then compute EXACT cosine
    only on the shortlist and emit the final top-k. Rows-only check
    (trained codebooks aren't SQL-expressible); the oracled value gate is
    :func:`ann_topk_pq_recall`, same discipline as the IVF-kmeans twin.

    Scale shape: the ADC pass reads only (vec_id, code) — at 1e10 vectors
    that is the M-byte column, not the 4 KB embedding; the shortlist join
    back to full vectors is a broadcast of ~queries × shortlist ids; exact
    work is O(queries × shortlist), independent of corpus size."""
    books = _pq_codebooks(spark, sf_dir)
    if books is None:
        return spark.createDataFrame([], ANN_SCHEMA)
    vecs, qrows = _pq_query_rows(spark, sf_dir)
    if not qrows:
        return spark.createDataFrame([], ANN_SCHEMA)
    qdata, DT = _pq_query_tables(books, qrows)

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V, nrm = _batch_vectors(pdf)
            yield _adc_frame(pdf["vec_id"].to_numpy(), _pq_encode(V, nrm, books), DT)

    adist = vecs.mapInPandas(adc, "vec_id long, query_id long, adist double") \
        .where(F.col("vec_id") != F.col("query_id"))
    n = load_table(spark, sf_dir, "embeddings").count()
    return _pq_shortlist_rerank(spark, vecs, adist, n, qdata, k)


def _pq_shortlist_rerank(spark: SparkSession, vecs: DataFrame,
                         adist: DataFrame, n: int, qdata: list,
                         k: int) -> DataFrame:
    """The shared PQ search tail (plain PQ and IVFPQ): size-derived
    shortlist over the ADC distances (max(50, 5%·n) — fixed shortlists go
    quadratic-blind as n grows), then EXACT cosine only on the shortlist
    ids (a broadcast of ~queries × shortlist rows back onto the vector
    table) and the final top-k window."""
    import math

    shortlist = max(PQ_SHORTLIST_FLOOR, math.ceil(PQ_SHORTLIST_FRAC * n))
    ws = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    short = (
        adist.withColumn("rk_s", F.row_number().over(ws))
        .where(F.col("rk_s") <= shortlist)
        .select("query_id", "vec_id")
    )
    qdf = spark.createDataFrame(qdata, "query_id long, qv array<double>, qn double")
    return _rank_neighbors(
        vecs.join(F.broadcast(short), "vec_id").join(F.broadcast(qdf), "query_id"), k)


def ann_topk_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated recall of the PQ + exact-re-rank search vs brute force
    (the shortlist is what loses truth rows; re-ranking is exact, so recall
    == the exact top-k's coverage by the ADC shortlist)."""
    exact = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = ann_topk_pq(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_twin(approx, exact, RECALL_FLOOR_PQ)


# IVFPQ loses from BOTH levers (a truth row in an unprobed cell, a truth row
# outside the ADC shortlist), so its floor sits at the IVF tier's, not PQ's.
RECALL_FLOOR_IVFPQ = 0.3
# probe 1/IVFPQ_COVERAGE_DIV of the cells: nprobe must TRACK the derived
# cell count (r14 evidence: fixed nprobe=4 against _derive_ivf_cells'
# growing quantizer collapsed recall to 0.16/0.02 at the 10x/100x decades —
# coverage 4/160 then 4/1600). A constant coverage fraction keeps the
# per-query candidate bound at n/IVFPQ_COVERAGE_DIV at every scale; a
# clustered production embedding space tunes coverage DOWN from there (the
# standard nprobe knob), the isotropic synthetic decades are the worst case.
IVFPQ_COVERAGE_DIV = 4


def _derive_ivfpq_nprobe(n_cells: int) -> int:
    return max(N_PROBE, -(-n_cells // IVFPQ_COVERAGE_DIV))


def ann_topk_ivfpq(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rk): IVF + PQ composed — the actual
    Faiss IVFPQ index shape (Jégou et al. 2011 §V; non-residual encoding,
    Faiss's ``by_residual=false`` configuration), built from the two halves
    that already exist separately: the derived-width md5-anchor coarse
    quantizer (:func:`_derive_ivf_cells` cells, the ``_ivf_assign`` law)
    bounds WHICH vectors each query scans, and the per-subspace PQ codebooks
    (:func:`_pq_codebooks`) bound the BYTES per scanned vector. One
    Arrow-batched pass assigns each corpus vector its cell and its M-byte
    code and emits ADC distances ONLY against the queries probing that cell
    (queries × probe-sets ride the task closure — bounded coordinator
    state, the anchor discipline); the shared PQ tail then shortlists and
    exact-re-ranks. Rows-only check (trained codebooks aren't
    SQL-expressible); the oracled value gate is
    :func:`ann_topk_ivfpq_recall`, the IVF-kmeans/PQ discipline.

    Scale shape — the index a 1e10-vector deployment runs: per query the
    scan touches nprobe/k_cells of the corpus — nprobe DERIVED with the
    cell count (:func:`_derive_ivfpq_nprobe`, constant 1/4 coverage: the
    r14 decade measured fixed-nprobe recall collapsing as the quantizer
    grew) — and reads M bytes per touched vector, not the 4 KB embedding;
    exact work is O(queries × shortlist). A clustered real embedding space
    tunes coverage far below 1/4 (64/65536-style configs); the isotropic
    synthetic decades are ANN's worst case and bound recall by coverage.
    Against the same fixture, plain PQ reads every code and plain IVF
    reads full vectors in probed cells — this reads codes in probed cells
    only."""
    state = _ivfpq_state(spark, sf_dir)
    if state is None:
        return spark.createDataFrame([], ANN_SCHEMA)
    books, _anchors, A, an, n = state
    vecs, qrows = _pq_query_rows(spark, sf_dir)
    if not qrows:
        return spark.createDataFrame([], ANN_SCHEMA)
    # driver-side per-query state: the derived-nprobe nearest cells (same
    # rounded affinity + lowest-cid tiebreak as _ivf_assign) and the ADC
    # tables — shared verbatim with the persisted-codes twin
    probes, qdata, DT = _ivfpq_query_state(books, A, an, qrows)

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cid, codes = _ivfpq_encode(pdf, A, an, books)
            out = _adc_frame(pdf["vec_id"].to_numpy(), codes, DT, cid, probes)
            if out is not None:
                yield out

    adist = vecs.mapInPandas(adc, "vec_id long, query_id long, adist double") \
        .where(F.col("vec_id") != F.col("query_id"))
    return _pq_shortlist_rerank(spark, vecs, adist, n, qdata, k)


def ann_topk_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated recall of the composed IVFPQ search vs brute force."""
    exact = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = ann_topk_ivfpq(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_twin(approx, exact, RECALL_FLOOR_IVFPQ)


def _ivfpq_state(spark: SparkSession, sf_dir: str):
    """(books, anchors, A, an) — the IVFPQ coordinator state, or ``None`` on
    an empty corpus. Shared by the in-plan search and the persisted-codes
    twin so both quantize identically (their results must be row-identical)."""
    books = _pq_codebooks(spark, sf_dir)
    if books is None:
        return None
    n = load_table(spark, sf_dir, "embeddings").count()
    anchors = _anchor_rows(spark, sf_dir, _derive_ivf_cells(n))
    if not anchors:
        return None
    A, an = _anchor_matrix(anchors)
    return books, anchors, A, an, n


def _ivfpq_query_state(books, A, an, qrows):
    """(probes, qdata, DT) — per-query probe sets (the derived-nprobe cells
    of highest rounded affinity, ties to the lowest cid) and ADC tables,
    shared by both IVFPQ variants (identical quantization on both paths)."""
    nprobe = _derive_ivfpq_nprobe(len(A))
    probes = {}
    for r in qrows:
        dots = A @ np.asarray(r["v"], dtype=np.float64)
        aff = cos_round(cos_quotient(dots[None, :], r["nrm"], an))[0]
        order = np.lexsort((np.arange(len(aff)), -aff))
        probes[r["vec_id"]] = set(int(c) for c in order[:nprobe])
    qdata, DT = _pq_query_tables(books, qrows)
    return probes, qdata, DT


def _ivfpq_encode(pdf, A, an, books):
    """(cid, codes) of an Arrow batch: each vector's nearest-anchor cell and
    its PQ sub-codes — the one IVFPQ encoder, so the in-plan and persisted
    twins quantize identically by construction."""
    V, nrm = _batch_vectors(pdf)
    return nearest_anchor(V @ A.T, nrm, an)[0], _pq_encode(V, nrm, books)


def ann_topk_ivfpq_persisted(spark: SparkSession, sf_dir: str,
                             k: int = TOP_K) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rk): IVFPQ probing a PERSISTED codes
    index — the ANN tier joins the write-once discipline the dedup tier
    established (operators/persisted.py): the (vec_id, cid, code) table is
    materialized ONCE per corpus identity, directory-PARTITIONED by cell id
    (``persisted._ensure_index`` — the partitioned-fact machinery), and the
    search reads ONLY the probed cells' directories (``cid.isin`` resolves
    to partition pruning: the scan's file index lists nprobe-fraction of
    the cell dirs, the events-tier ``InMemoryFileIndex x of N paths``
    marker). The in-plan twin re-encodes the corpus every call — honest,
    but linear in n per query batch (its measured ~10x decade); here
    encoding is paid once at build, and the recurring cost is a pruned
    scan of M-int codes + O(queries x shortlist) exact work. Same
    codebooks, same anchors, same derived nprobe ⇒ results are
    ROW-IDENTICAL to :func:`ann_topk_ivfpq` (pytest-pinned), and the same
    oracled recall-twin discipline gates the values."""
    from tf_idf_using_mapreduce_spark.operators.persisted import _ensure_index

    state = _ivfpq_state(spark, sf_dir)
    if state is None:
        return spark.createDataFrame([], ANN_SCHEMA)
    books, _anchors, A, an, n = state
    vecs, qrows = _pq_query_rows(spark, sf_dir)
    if not qrows:
        return spark.createDataFrame([], ANN_SCHEMA)
    probes, qdata, DT = _ivfpq_query_state(books, A, an, qrows)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cid, codes = _ivfpq_encode(pdf, A, an, books)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "code": list(codes.astype("int32")),
                "cid": cid.astype("int32"),
            })

    def build() -> DataFrame:
        # production packs the M 4-bit sub-codes into M/2 bytes; int32 here
        # keeps the Arrow path simple — the scan-bytes claim rests on codes
        # vs 4 KB embeddings either way
        return vecs.mapInPandas(
            encode, "vec_id long, code array<int>, cid int")

    name = _ensure_index(spark, sf_dir, "ivfpq_codes", build,
                         source_table="embeddings.parquet",
                         partition_cols=["cid"])
    codes_tbl = spark.table(name) if name is not None else build()
    probed = sorted(set().union(*probes.values()))
    scan = codes_tbl.where(F.col("cid").isin(probed))

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = _adc_frame(pdf["vec_id"].to_numpy(), np.stack(pdf["code"].to_numpy()),
                             DT, pdf["cid"].to_numpy(), probes)
            if out is not None:
                yield out

    adist = scan.mapInPandas(adc, "vec_id long, query_id long, adist double") \
        .where(F.col("vec_id") != F.col("query_id"))
    return _pq_shortlist_rerank(spark, vecs, adist, n, qdata, k)


def ann_topk_ivfpq_persisted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated recall of the persisted-codes IVFPQ vs brute force."""
    exact = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = ann_topk_ivfpq_persisted(spark, sf_dir) \
        .select("query_id", "neighbor_id")
    return _recall_twin(approx, exact, RECALL_FLOOR_IVFPQ)
