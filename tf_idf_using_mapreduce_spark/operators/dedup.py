"""Deduplication suite over the ``documents`` corpus — the training-data-
pipeline extension operators (SURVEY.md §7.2 #7): exact, n-gram Jaccard,
MinHash+LSH, SimHash. All sketches are md5-based (functions/hashing.py) so the
DuckDB oracle computes identical values.

Scale design:
- **exact**: one hash-groupBy; survivors = min(doc_id) per content hash. The
  only full-shuffle is on the 32-byte hash (uniform keys — no skew).
- **ngram_jaccard**: exact all-pairs similarity via a shingle equi-join — the
  CORRECTNESS baseline. Quadratic in per-shingle document frequency; at 100 TB
  this is the operator you do NOT run (the shingle join explodes on common
  shingles) — it exists as the oracle for the LSH path.
- **minhash_lsh**: the SCALE path. k=16 signatures (min of seeded md5 over
  shingles), 8 bands × 2 rows; candidate pairs share a band bucket, then exact
  Jaccard verifies candidates only. Work is linear in corpus size + output,
  and everything except the band self-join and the candidate joins is
  SHUFFLE-FREE: shingle sets are per-row ``array_distinct`` arrays (no
  row-level DISTINCT exchange), each signature is ``array_min(transform(...))``
  over the array (no groupBy), and verification is ``array_intersect`` on the
  candidate pair's two arrays (no shingle-level 3-way join). With j ≥ 0.8
  targets, P(candidate) = 1-(1-j²)⁸ ≈ 0.9997 — recall checked in tests
  against the exact baseline.
- **simhash**: 64-bit sign-of-weighted-votes fingerprint (the Manku/Jain/Sarma
  WWW'07 width), stored as two 32-bit integer halves so the portable
  floor-division band arithmetic stays exact (< 2^53). Banded 4 × 16 bits for
  candidate generation (hamming ≤ 3 implies ≥1 exact band by pigeonhole);
  16-bit band keys (65536 values) keep bucket sizes small even when a narrow
  vocabulary saturates the sketch space — the 8-bit-band variant measured 10×
  more candidate pairs on the closed-vocab fixture. Pairwise hamming is two
  ``bit_count(xor)``s, only on bucket collisions.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from tf_idf_using_mapreduce_spark.functions.hashing import (
    SIMHASH_BITS,
    band_key_expr,
    hamming_int_duck,
    hamming_int_spark,
    seeded_md5,
    simhash_int_expr,
    simhash_vote_exprs,
)
from tf_idf_using_mapreduce_spark.functions.text import TOKENS
from tf_idf_using_mapreduce_spark.sources.corpus import load_table, spread

SHINGLE_K = 3           # word trigrams
MINHASH_SEEDS = 16
LSH_BAND_ROWS = 2       # → 8 bands
JACCARD_THRESHOLD = 0.8
HAMMING_THRESHOLD = 3
SIMHASH_BANDS = 4       # 4 × 16 bits; hamming ≤ 3 ⇒ some band exact (pigeonhole)
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16

# Hot-bucket cap: an LSH bucket with more than this many members is
# degenerate content (boilerplate, templates, exact-dup clusters that should
# have been collapsed by dedup_exact upstream) and would expand to O(size²)
# candidate pairs; such buckets are EXCLUDED from pair generation. The cap is
# far above anything the organic fixture produces (max observed bucket ≲ 20),
# so normal results are unchanged — tests/test_skew.py pins the pathological
# case. Both oracles mirror the cap so parity is exact.
LSH_BUCKET_CAP = 64


def _drop_hot_buckets(bands: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Remove all rows of buckets with more than ``cap`` members — BEFORE any
    ``collect_list`` materializes a bucket, so a 10M-member degenerate bucket
    never sits in one task's memory. Bucket sizes partial-aggregate map-side
    (tiny shuffle on the same keys); the hot-key set is by construction small
    and broadcasts into a left-anti join — no extra full shuffle of the band
    rows."""
    hot = (
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > cap)
        .select(*keys)
    )
    return bands.join(F.broadcast(hot), keys, "left_anti")


# deterministic fixture split: every 5th doc arrives as the "new batch",
# the rest are the already-indexed corpus (oracle-expressible, no state file)
INCR_BATCH_MOD = 5


def _split_batch(frame: DataFrame, keys: list[str], cap: int,
                 buckets=lambda side: side) -> tuple[DataFrame, DataFrame]:
    """(index, batch): the incremental family's fixture split of ``frame``
    into the already-indexed corpus and the newly arriving batch, each side
    mapped through ``buckets`` to its bucket rows (keyed by ``keys``), with
    the index's hot buckets (> ``cap`` members) dropped exactly as the batch
    operators drop them. Splitting BEFORE ``buckets`` lets a persisted twin
    hash only the batch's documents when its index already sits on disk."""
    is_new = F.col("doc_id") % INCR_BATCH_MOD == 0
    idx = _drop_hot_buckets(buckets(frame.where(~is_new)), keys, cap)
    return idx, buckets(frame.where(is_new))


def _probe_index(idx: DataFrame, batch: DataFrame, keys: list[str],
                 carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, dup_of, <c>_new..., <c>_idx...): every batch row matched to
    the index rows sharing its bucket ``keys`` — ``doc_id`` the new
    document, ``dup_of`` the indexed one, and each ``carry`` column from
    both sides. The index is write-once state (appended after each batch,
    rebuilt never), so the SMALL batch side broadcasts into it and the index
    never reshuffles: daily cost is O(batch + matches), not O(corpus).
    Batch-internal pairs are out of contract (the batch's own backfill run
    handles those)."""
    new = batch.select(
        F.col("doc_id").alias("new_id"), *keys,
        *[F.col(c).alias(f"{c}_new") for c in carry],
    )
    return idx.join(F.broadcast(new), keys).select(
        F.col("new_id").alias("doc_id"), F.col("doc_id").alias("dup_of"),
        *[f"{c}_new" for c in carry],
        *[F.col(c).alias(f"{c}_idx") for c in carry],
    )


# --------------------------------------------------------------------------- #
# exact dedup
# --------------------------------------------------------------------------- #

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(text_hash, n_docs, canonical_doc_id): content-hash groups with the
    keep-first (min doc_id) survivor. ``n_docs > 1`` rows are the duplicates."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM documents GROUP BY 1
"""


# --------------------------------------------------------------------------- #
# shingles (shared by jaccard + minhash)
# --------------------------------------------------------------------------- #

def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh: array<string>) — the DISTINCT word-trigram shingles of each
    document as one per-row array. Map-only: ``array_distinct`` dedups within
    the row, so no row-level DISTINCT exchange ever runs (the exploded form
    shuffled 260k shingle rows at sf0.1 for the same information)."""
    # 128 KB threshold (not the default 1 MB): downstream evaluates 16 seeded
    # md5s per shingle map-side, so even a small scan partition carries dense
    # per-byte compute — same rationale as textstats' per-char hashing.
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_partition=128 * 1024,
    )
    toks = docs.withColumn("t", F.expr(TOKENS))
    # The expression is TOTAL (CASE-guarded), not merely filter-protected:
    # Catalyst's subexpression elimination can hoist it into a Filter
    # predicate where conjunct order is not guaranteed, so a short document
    # would otherwise hit sequence()'s descending branch and raise
    # INVALID_ARRAY_INDEX under ANSI (found by tests/test_fuzz_dialect.py).
    return toks.where(F.size("t") >= SHINGLE_K).select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(t) >= {SHINGLE_K} THEN "
            f"array_distinct(transform(sequence(0, size(t) - {SHINGLE_K}), "
            f"i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) "
            f"ELSE array() END"
        ).alias("sh"),
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — row-per-shingle form (exploded `_shingle_sets`),
    kept for the exact all-pairs baseline whose pair generation is a
    shingle-level equi-join. The lineage cut before the explode is
    LOAD-BEARING: Generate over the inlined tokenize→transform→
    array_distinct expression re-evaluates the whole array expression per
    OUTPUT row (measured 16 s vs 0.5 s at sf0.1 — a ~40× per-shingle
    blowup), the same Catalyst pathology as the stem dictionary's cut."""
    return (
        _shingle_sets(spark, sf_dir)
        .localCheckpoint(eager=False)
        .select("doc_id", F.explode("sh").alias("shingle"))
    )


# DuckDB twin (1-based lists, unnest instead of explode)
_SHINGLES_SQL = f"""
SELECT DISTINCT doc_id, shingle FROM (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM (SELECT doc_id, {TOKENS} AS t FROM documents) dtoks
  WHERE len(t) >= {SHINGLE_K}
) shx
"""


def _ordered_pairs_expr(arr: str) -> str:
    """All ordered pairs (element i, element j>i) of a SORTED array, as an
    array of (doc_a, doc_b)-field structs — the LSH bucket → candidate-pairs
    expansion as a pure expression (no self-join; sorting makes doc_a < doc_b
    by construction)."""
    return (
        f"flatten(transform({arr}, (x, i) -> "
        f"transform(slice({arr}, i + 2, size({arr})), y -> "
        f"named_struct('doc_a', x, 'doc_b', y))))"
    )


# --------------------------------------------------------------------------- #
# exact n-gram Jaccard (baseline)
# --------------------------------------------------------------------------- #

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) for all pairs with trigram Jaccard ≥ 0.8.

    r15 shape: ``common`` is counted DIRECTLY from the shingle self-join
    (shingles are distinct per doc, so the join emits each shared shingle
    exactly once per pair — ``groupBy(pair).count()`` IS the intersection
    size, the same form the oracle uses). The previous plan materialized the
    DISTINCT candidate pair set first and then re-joined it against both
    shingle sides to re-derive the very rows the self-join had already
    produced — two extra corpus-scale joins and a distinct for zero
    information (guide §2.4; measured 6.0 s → ~2.9 s at sf0.1)."""
    sh = _shingles(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


NGRAM_JACCARD_ORACLE = f"""
WITH sh AS ({_SHINGLES_SQL}),
cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common * 1.0 / (ca.n_sh + cb.n_sh - common), 6) AS jaccard
FROM common
JOIN cnt ca ON ca.doc_id = doc_a
JOIN cnt cb ON cb.doc_id = doc_b
WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------- #
# MinHash + LSH (scale path)
# --------------------------------------------------------------------------- #

def minhash_signatures_with_sets(shingle_sets: DataFrame,
                                 seeds: int = MINHASH_SEEDS) -> DataFrame:
    """(doc_id, sh, s0..s{k-1}): the shingle array CARRIED ALONGSIDE its
    MinHash signature — min over the doc's shingle array of
    md5(seed:shingle), one ``array_min(transform(...))`` column per seed,
    SHUFFLE-FREE (a pure projection; the former groupBy-of-exploded-rows
    form exchanged every (doc, shingle) row first). Hex-string min ==
    numeric min of the 128-bit hash (fixed-length lexicographic). The one
    sketch table of the MinHash family: :func:`dedup_minhash_lsh` and
    :func:`dedup_incremental` checkpoint it once so the signature and
    verify faces share one materialization (r16); consumers that need only
    the signature project it away (:func:`_lsh_band_table`)."""
    cols = [
        F.expr(f"array_min(transform(sh, x -> {seeded_md5(str(s), 'x')}))").alias(f"s{s}")
        for s in range(seeds)
    ]
    return shingle_sets.select("doc_id", "sh", *cols)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard): LSH candidates (8 bands × 2 rows) verified
    with exact Jaccard ≥ 0.8 — the end-to-end scalable near-dup pipeline.

    Physical shape: one scan → map-side shingle arrays + signatures → band
    explode (8 rows/doc) → groupBy (band, band_sig) bucket → emit ordered
    pairs from each bucket → DISTINCT pairs → two doc_id joins to fetch the
    pair's shingle arrays → ``array_intersect`` Jaccard. Candidate generation
    is a single grouping shuffle (the textbook band self-JOIN shuffles the
    same rows twice and recomputes the signature projection per side —
    measured ~1s slower at sf0.1); buckets above ``LSH_BUCKET_CAP`` members
    are excluded before pair expansion (``_drop_hot_buckets`` — degenerate
    boilerplate keys would otherwise expand O(size²); run ``dedup_exact``
    upstream to collapse identical docs first). The
    shingle arrays are localCheckpoint'ed because the plan consumes them on
    THREE map-only branches (signatures, each verify side) — with no exchange
    to reuse, Spark would otherwise re-tokenize the corpus three times
    (measured 2× slower at sf0.1).

    r16: ONE combined (doc_id, sh, s0..s15) checkpoint instead of the former
    two chained ones (sets, then signatures FROM the sets checkpoint) — the
    shingle arrays and the 16 seeded mins materialize in a single job/pass,
    and every consumer (band explode, hot-bucket count, both verify sides)
    projects the columns it needs from the same blocks. Same values, one
    materialization job and one block read-back fewer per query — this
    pipeline underlies eight registered queries. Production equivalent:
    persist ONE sketch table carrying both the sets and the signatures."""
    table = (
        minhash_signatures_with_sets(_shingle_sets(spark, sf_dir))
        .localCheckpoint(eager=False)
    )
    sets = table.select("doc_id", "sh")
    bands = _drop_hot_buckets(_lsh_band_table(table), ["band", "band_sig"], LSH_BUCKET_CAP)
    cand = (
        bands.groupBy("band", "band_sig")
        # array_distinct BEFORE pair expansion: duplicate doc_ids (legal in
        # the corpus — the fuzz suite pins them) would otherwise put the same
        # id twice in the sorted member list and _ordered_pairs_expr would
        # emit (x, x) self-pairs that the oracle's a.doc_id < b.doc_id join
        # structurally never produces. Distinct + sorted ⇒ strictly
        # increasing ⇒ doc_a < doc_b, matching the oracle's candidate set.
        .agg(F.expr("array_sort(array_distinct(collect_list(doc_id)))").alias("ds"))
        .where(F.size("ds") >= 2)
        .select(F.explode(F.expr(_ordered_pairs_expr("ds"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("common", F.expr("size(array_intersect(sh_a, sh_b))"))
        .select(
            "doc_a", "doc_b",
            F.round(
                F.col("common")
                / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


_MINHASH_SIG_COLS = ", ".join(
    f"min({seeded_md5(str(s), 'shingle')}) AS s{s}" for s in range(MINHASH_SEEDS)
)
_MINHASH_BAND_SELECTS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, concat(s{LSH_BAND_ROWS * b}, s{LSH_BAND_ROWS * b + 1}) AS band_sig FROM sig16"
    for b in range(MINHASH_SEEDS // LSH_BAND_ROWS)
)

# NOTE on duplicate doc_ids (dirty-data edge): self-pairs are structurally
# impossible on both sides — the Spark bucket expansion dedups ids before
# pairing (array_distinct; pinned by test_dup_id_docs_emit_no_self_pairs)
# and this oracle joins a.doc_id < b.doc_id. Row MULTIPLICITY under dup
# ids remains unspecified for this operator: the split cnt CTE here joins
# counts back by doc_id, which under duplicate ids can mix one row
# combination's intersection with another row's size (the bug class the
# containment oracle below fixes by scoring from the joined row). The
# seeded fuzz corpus carries two dup-id docs and stays green here because
# they never pair above the Jaccard bar; for full dup-id fidelity dedup
# by content hash first (dedup_exact), which needs no id uniqueness.
MINHASH_LSH_ORACLE = f"""
WITH sh AS ({_SHINGLES_SQL}),
sig16 AS (SELECT doc_id, {_MINHASH_SIG_COLS} FROM sh GROUP BY doc_id),
allbands AS ({_MINHASH_BAND_SELECTS}),
hot AS (SELECT band, band_sig FROM allbands
        GROUP BY band, band_sig HAVING count(*) > {LSH_BUCKET_CAP}),
bands AS (SELECT * FROM allbands bb
          WHERE NOT EXISTS (SELECT 1 FROM hot h
                            WHERE h.band = bb.band AND h.band_sig = bb.band_sig)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                           AND a.doc_id < b.doc_id
),
cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common * 1.0 / (ca.n_sh + cb.n_sh - common), 6) AS jaccard
FROM common
JOIN cnt ca ON ca.doc_id = doc_a
JOIN cnt cb ON cb.doc_id = doc_b
WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------- #
# containment dedup (asymmetric subset/quote-inclusion detection)
# --------------------------------------------------------------------------- #

CONTAIN_THRESHOLD = 0.8
FP_DOC_CAP = 64  # fingerprints appearing in more docs are boilerplate keys


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, containment): near-dup pairs by ASYMMETRIC containment
    — |fp(A) ∩ fp(B)| / min(|fp(A)|, |fp(B)|) ≥ 0.8 over winnowing
    fingerprints. This is the modality Jaccard-based dedup structurally
    MISSES: a short document fully quoted inside a long one has tiny
    symmetric Jaccard (union is huge) but containment ≈ 1 — the
    quote-inclusion / subset-duplication case (news wire reprints,
    boilerplate-wrapped bodies). MinHash bands can't recall these either
    (minhash concentrates around Jaccard), so candidates come from SHARED
    WINNOWED FINGERPRINTS instead: one groupBy on the fingerprint key,
    pair expansion per fingerprint bucket, hot fingerprints (> FP_DOC_CAP
    docs — boilerplate n-grams, non-discriminative) excluded BEFORE
    expansion exactly like the LSH bucket cap, mirrored in the oracle.
    Verification is one array_intersect over the pair's fingerprint sets
    (lineage-cut: three consumers of the set table). Scale: candidate
    volume is Σ min(bucket, cap)² over fingerprint buckets — bounded by
    the cap; everything else is map-only or doc_id equi-joins.

    r16 (guide §2.3 "narrower types" — the verify/shuffle cost was profiled
    at ~2.6 s of the 3.5 s query): the 32-char md5 HEX STRINGS are narrowed
    to 60-bit BIGINTs (the first 15 hex chars) BEFORE the checkpoint, so
    the bucket shuffle keys, the pair-side arrays, and the
    ``array_intersect`` verify all run on primitive longs instead of
    strings (~6× less array payload; long equality instead of 32-char
    string hashing). The ORACLE applies the IDENTICAL prefix map
    (lockstep, like the oracle-mirrored hot-bucket cap), so both engines
    intersect the same 60-bit values and parity is exact by construction.
    Semantics: a containment value could only move if two DISTINCT md5
    fingerprints of one document shared a 60-bit prefix — ~n²/2⁶¹ for the
    ≤10³ fingerprints a document carries (≈10⁻¹³; verified no-collision on
    every fixture SF), and BOTH engines would move together anyway. Across
    documents the birthday bound is what counts: N distinct fingerprints in
    the corpus give about N²/2⁶¹ colliding pairs — nil on the fixtures, but
    ~4×10⁵ at N = 10¹². Each such pair reads as one shared fingerprint
    between two documents, so it can add a candidate pair or inflate a
    containment value; the oracle's identical prefix map keeps parity, so no
    gate sees it. The md5-string form remains in
    :func:`~tf_idf_using_mapreduce_spark.operators.textstats.fingerprint_sets`
    for the oracled
    ``doc_fingerprints`` surface, which exposes fingerprint VALUES."""
    from tf_idf_using_mapreduce_spark.operators.textstats import fingerprint_sets

    fp60 = "transform(fps, f -> cast(conv(substr(f, 1, 15), 16, 10) as bigint))"
    sets = (
        fingerprint_sets(spark, sf_dir)
        .select("doc_id", F.expr(fp60).alias("fps"))
        .localCheckpoint(eager=False)
    )
    ex = sets.select("doc_id", F.explode("fps").alias("fp"))
    ex = _drop_hot_buckets(ex, ["fp"], FP_DOC_CAP)
    cand = (
        ex.groupBy("fp")
        # array_distinct BEFORE pair expansion: duplicate doc_ids (legal in
        # the corpus — the fuzz suite pins them) would otherwise put the same
        # id twice in the sorted member list and _ordered_pairs_expr would
        # emit (x, x) self-pairs that the oracle's a.doc_id < b.doc_id join
        # structurally never produces. Distinct + sorted ⇒ strictly
        # increasing ⇒ doc_a < doc_b, matching the oracle's candidate set.
        .agg(F.expr("array_sort(array_distinct(collect_list(doc_id)))").alias("ds"))
        .where(F.size("ds") >= 2)
        .select(F.explode(F.expr(_ordered_pairs_expr("ds"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("fps").alias("fp_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("fps").alias("fp_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("common", F.expr("size(array_intersect(fp_a, fp_b))"))
        .select(
            "doc_a", "doc_b",
            F.round(
                F.col("common") / F.least(F.size("fp_a"), F.size("fp_b")), 6
            ).alias("containment"),
        )
        .where(F.col("containment") >= CONTAIN_THRESHOLD)
    )


def dedup_containment_oracle() -> str:
    from tf_idf_using_mapreduce_spark.operators.textstats import FINGERPRINT_SETS_SQL

    # LOCKSTEP with the engine's 60-bit fingerprint narrowing (see the
    # operator docstring): both engines map each md5 to the BIGINT value of
    # its first 15 hex chars before bucketing/intersecting, so the compared
    # sets are identical by construction.
    return f"""
WITH sets0 AS ({FINGERPRINT_SETS_SQL}),
sets AS (SELECT doc_id,
                list_transform(fps, f -> CAST(('0x' || substr(f, 1, 15)) AS BIGINT)) AS fps
         FROM sets0),
ex0 AS (SELECT doc_id, unnest(fps) AS fp FROM sets),
hot AS (SELECT fp FROM ex0 GROUP BY fp HAVING count(*) > {FP_DOC_CAP}),
ex AS (SELECT * FROM ex0 WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.fp = ex0.fp)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
-- common and min-size come from the SAME joined row (not a separate
-- count CTE): under duplicate doc_ids — the fuzz corpus has them — a
-- split join would cross-mix one combination's intersection with the
-- other's size, which the Spark side (one join, per-row arithmetic)
-- never does
scored AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.fps, sb.fps)) AS common,
         least(len(sa.fps), len(sb.fps)) AS mn
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.doc_a
  JOIN sets sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, round(common * 1.0 / mn, 6) AS containment
FROM scored
WHERE common * 1.0 / mn >= {CONTAIN_THRESHOLD}
"""


# --------------------------------------------------------------------------- #
# cross-document repeated-substring dedup (ExactSubstr modality)
# --------------------------------------------------------------------------- #

# width (tokens) of the positional shingle window: a shared span of L >= W
# tokens produces L - W + 1 CONSECUTIVE matching positions on one diagonal,
# which the gaps-and-islands merge below reassembles into the maximal span
SUBSTR_W = 8
# minimum reported span length in tokens — the ExactSubstr removal threshold
# (Lee et al. 2022 use 50 BPE tokens at web scale; 16 keeps the fixture
# corpus's planted near-dup runs observable at every driver SF)
SUBSTR_MIN_SPAN = 16
# positional-fingerprint bucket cap, same role (and value) as FP_DOC_CAP:
# a window shared by more occurrences than this is degenerate content whose
# O(size^2) pair expansion is amputated BEFORE it happens — mirrored in the
# oracle so capped output stays hash-checked. Deliberately above the
# 50-document boilerplate-injection fixture (tests/test_dedup.py) so the
# license-paragraph case is FOUND, not dropped.
SUBSTR_FP_CAP = 64


def _positional_shingles(spark: SparkSession, sf_dir: str, w: int = SUBSTR_W) -> DataFrame:
    """(doc_id, pos, fp) — md5 fingerprint of the ``w``-token window starting
    at 0-based token position ``pos``, one row per position (stride 1). The
    POSITIONAL twin of :func:`_shingle_sets`: here position survives because
    span reassembly needs it. Same two Catalyst disciplines as `_shingles`:
    the window expression is TOTAL (CASE-guarded — subexpression elimination
    can hoist it past the length filter), and the lineage is CUT before the
    explode (Generate over the inlined tokenize→transform chain re-evaluates
    the whole array per OUTPUT row, the measured ~40× pathology)."""
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_partition=128 * 1024,
    )
    toks = docs.withColumn("t", F.expr(TOKENS))
    ps = (
        f"CASE WHEN size(t) >= {w} THEN "
        f"transform(sequence(0, size(t) - {w}), "
        f"i -> named_struct('pos', i, 'fp', md5(concat_ws(' ', slice(t, i + 1, {w}))))) "
        f"ELSE array() END"
    )
    return (
        toks.where(F.size("t") >= w)
        .select("doc_id", F.expr(ps).alias("ps"))
        .localCheckpoint(eager=False)
        .select("doc_id", F.explode("ps").alias("p"))
        .select("doc_id", "p.pos", "p.fp")
    )


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, pos_a, pos_b, span_len): maximal token spans of length
    ≥ ``SUBSTR_MIN_SPAN`` repeated VERBATIM across two documents — the
    ExactSubstr dedup modality (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): licenses, boilerplate, and quoted
    passages BELOW document granularity, which doc-level Jaccard/containment
    structurally miss (a 20-token license in two 1000-token docs is ~2%
    Jaccard). The reference implementation builds a distributed suffix
    array; that is a sequential-scan design — the Spark-first shape is
    fingerprint bucketing plus a window-function span merge:

    1. positional ``SUBSTR_W``-token shingle fingerprints (map-only,
       :func:`_positional_shingles`);
    2. hot-fingerprint amputation (> ``SUBSTR_FP_CAP`` occurrences) BEFORE
       any bucket materializes (:func:`_drop_hot_buckets` — broadcast
       anti-join, no second shuffle of the entry rows);
    3. per-fingerprint pair expansion as a pure array expression (the LSH
       bucket convention: array_distinct ⇒ no self-pairs under duplicate
       doc rows, sorted ⇒ doc_a < doc_b by construction, candidate mass
       Σ min(bucket, cap)² — never all-pairs, never a driver-side suffix
       array);
    4. gaps-and-islands span merge: matched positions sharing a diagonal
       (pos_a − pos_b) with consecutive pos_a collapse via the classic
       ``pos_a − row_number()`` run id; a shared L-token span is exactly
       L − W + 1 consecutive matches, so ``span_len = max(pos_a) −
       min(pos_a) + W``. The window partition key (doc_a, doc_b, diag) is
       fine-grained — per-partition size is bounded by document length,
       not corpus size.

    Spans a hot fingerprint interrupts split into sub-spans (the documented
    cap trade-off, identical in the oracle so output stays hash-checked).
    """
    ex = _positional_shingles(spark, sf_dir)
    ex = _drop_hot_buckets(ex, ["fp"], SUBSTR_FP_CAP)
    pairs_expr = (
        "flatten(transform(es, (x, i) -> "
        "transform(filter(slice(es, i + 2, size(es)), y -> y.doc_id > x.doc_id), "
        "y -> named_struct('doc_a', x.doc_id, 'pos_a', x.pos, "
        "'doc_b', y.doc_id, 'pos_b', y.pos))))"
    )
    m = (
        ex.groupBy("fp")
        .agg(F.expr("array_sort(array_distinct(collect_list(struct(doc_id, pos))))").alias("es"))
        .where(F.size("es") >= 2)
        .select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.doc_a", "p.pos_a", "p.doc_b", "p.pos_b")
    )
    w_run = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    spans = (
        m.withColumn("diag", F.col("pos_a") - F.col("pos_b"))
        .withColumn("run", F.col("pos_a") - F.row_number().over(w_run))
        .groupBy("doc_a", "doc_b", "diag", "run")
        .agg(
            F.min("pos_a").alias("pos_a"),
            F.min("pos_b").alias("pos_b"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(SUBSTR_W)).alias("span_len"),
        )
    )
    return (
        spans.where(F.col("span_len") >= SUBSTR_MIN_SPAN)
        .select(
            "doc_a", "doc_b",
            F.col("pos_a").cast("int").alias("pos_a"),
            F.col("pos_b").cast("int").alias("pos_b"),
            F.col("span_len").cast("int").alias("span_len"),
        )
    )


# DuckDB twin: zipped unnests give the positional entries; the cap counts
# RAW entries (duplicate doc rows included) exactly like _drop_hot_buckets,
# the match set is DISTINCT pairs exactly like the array_distinct expansion
DEDUP_SUBSTRING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS} AS t
  FROM documents
),
ex0 AS (
  SELECT doc_id,
         unnest(range(1, len(t) - {SUBSTR_W} + 2)) - 1 AS pos,
         unnest(list_transform(range(1, len(t) - {SUBSTR_W} + 2),
                i -> md5(array_to_string(t[i:i + {SUBSTR_W} - 1], ' ')))) AS fp
  FROM toks WHERE len(t) >= {SUBSTR_W}
),
hot AS (SELECT fp FROM ex0 GROUP BY fp HAVING count(*) > {SUBSTR_FP_CAP}),
ex AS (SELECT * FROM ex0 WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.fp = ex0.fp)),
m AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.pos AS pos_a, b.doc_id AS doc_b, b.pos AS pos_b
  FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag,
         pos_a - row_number() OVER (
           PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS run
  FROM m
)
SELECT doc_a, doc_b,
       CAST(min(pos_a) AS INTEGER) AS pos_a,
       CAST(min(pos_b) AS INTEGER) AS pos_b,
       CAST(max(pos_a) - min(pos_a) + {SUBSTR_W} AS INTEGER) AS span_len
FROM runs
GROUP BY doc_a, doc_b, diag, run
HAVING max(pos_a) - min(pos_a) + {SUBSTR_W} >= {SUBSTR_MIN_SPAN}
"""


def dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_removed, clean_text): the corpus with every
    cross-document repeated span EXCISED from all but its lowest-doc_id
    occurrence — the APPLY step of :func:`dedup_substring`, completing the
    modality the way ``dedup_apply`` completes cluster dedup (ExactSubstr's
    published treatment: keep one occurrence, cut the rest). Every span row
    has ``doc_a < doc_b``, so removing the ``doc_b`` side of every span
    leaves exactly the smallest-id occurrence of each repeated region
    standing; a doc that is ``doc_b`` in one pair and ``doc_a`` in another
    still loses its span (the pair with the smaller partner decides).

    Shape: the span table (output-sized, tiny relative to the corpus)
    aggregates to one (doc_id, spans array) row per AFFECTED doc, then
    LEFT-joins the corpus; excision is a single higher-order ``filter``
    over the token array (JVM-side, no explode, no per-token shuffle) —
    per-row work bounded by doc length × spans-per-doc, and spans-per-doc
    is bounded by the pair cap. ``clean_text`` is the cleaned TOKEN stream
    (the dedup tier's lower-cased token space, same convention as the
    shingle ops); NULL text stays NULL."""
    spans = dedup_substring(spark, sf_dir)
    rem = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.struct(F.col("pos_b").alias("start"), F.col("span_len").alias("len")).alias("s"),
        )
        # distinct: the same (start, len) region repeats once per partner
        # doc (50-doc boilerplate ⇒ up to 49 identical structs) — the
        # position union is unchanged, the array stays small
        .groupBy("doc_id")
        .agg(F.expr("array_distinct(collect_list(s))").alias("sp"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.withColumn("t", F.expr(TOKENS))
    # 0-based lambda index i matches the span positions; unaffected docs
    # (sp IS NULL after the left join) keep their token stream whole
    kept = (
        "CASE WHEN text IS NULL THEN NULL "
        "WHEN sp IS NULL THEN t "
        "ELSE filter(t, (x, i) -> "
        "size(filter(sp, s -> i >= s.start AND i < s.start + s.len)) = 0) END"
    )
    # explicit broadcast hint: the span side is output-sized (bounded by the
    # pair cap), but it is an aggregate-derived frame whose size Catalyst can
    # only ESTIMATE — without the hint the plan can flip to SortMergeJoin
    # under different autoBroadcastJoinThreshold/AQE settings and silently
    # break the "corpus never shuffles" contract this docstring and the plan
    # test pin (the incremental twin already hints its batch side)
    return (
        toks.join(F.broadcast(rem), "doc_id", "left")
        .withColumn("kept", F.expr(kept))
        .select(
            "doc_id",
            F.expr("CASE WHEN text IS NULL THEN NULL ELSE size(t) END")
            .cast("int").alias("n_tokens"),
            F.expr("CASE WHEN text IS NULL THEN NULL ELSE size(t) - size(kept) END")
            .cast("int").alias("n_removed"),
            F.expr("CASE WHEN text IS NULL THEN NULL ELSE concat_ws(' ', kept) END")
            .alias("clean_text"),
        )
    )


# DuckDB twin: same list-lambda excision (1-based lambda index, hence i − 1);
# the spans CTE is the full dedup_substring oracle verbatim
DEDUP_SUBSTRING_APPLY_ORACLE = f"""
WITH spans AS ({DEDUP_SUBSTRING_ORACLE}),
rem AS (
  -- row-level DISTINCT, not list_distinct: DuckDB's list_distinct maps to
  -- a histogram build that is unimplemented for STRUCT elements
  SELECT doc_id, list({{'start': pos_b, 'len': span_len}}) AS sp
  FROM (SELECT DISTINCT doc_b AS doc_id, pos_b, span_len FROM spans) dd
  GROUP BY doc_id
),
toks AS (
  SELECT doc_id, text, {TOKENS} AS t
  FROM documents
)
SELECT t.doc_id,
       CASE WHEN t.text IS NULL THEN NULL ELSE CAST(len(t.t) AS INTEGER) END AS n_tokens,
       CASE WHEN t.text IS NULL THEN NULL
            WHEN r.sp IS NULL THEN 0
            ELSE CAST(len(t.t) - len(list_filter(t.t, (x, i) ->
                 len(list_filter(r.sp, s -> i - 1 >= s.start AND i - 1 < s.start + s.len)) = 0))
                 AS INTEGER) END AS n_removed,
       -- coalesce: DuckDB's array_to_string([]) is NULL where Spark's
       -- concat_ws on an empty array is '' (all-tokens-removed exact dups
       -- and zero-token docs hit this)
       CASE WHEN t.text IS NULL THEN NULL
            WHEN r.sp IS NULL THEN coalesce(array_to_string(t.t, ' '), '')
            ELSE coalesce(array_to_string(list_filter(t.t, (x, i) ->
                 len(list_filter(r.sp, s -> i - 1 >= s.start AND i - 1 < s.start + s.len)) = 0), ' '), '')
       END AS clean_text
FROM toks t LEFT JOIN rem r ON r.doc_id = t.doc_id
"""


BOILERPLATE_TOP_K = 50
BOILERPLATE_MIN_DOCS = 2


def substring_boilerplate_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(span_text, n_docs, n_occurrences): the top-``BOILERPLATE_TOP_K``
    most-shared ``SUBSTR_W``-token windows by distinct-document count — the
    "what IS our boilerplate" report a curation pipeline runs before tuning
    removal thresholds, and the OBSERVABILITY twin of
    :func:`dedup_substring`'s hot-fingerprint cap (the engine-wide "no
    silent caps" rule): windows shared by more than ``SUBSTR_FP_CAP``
    occurrences are exactly what the cap amputates from pair generation, and
    they surface HERE, ranked, with their text. Deliberately uncapped —
    a census is one two-level aggregate (map-side partials on
    (window, doc) then (window)), never a pair expansion, so hot windows
    cost O(occurrences), not O(occurrences²); the result is top-k bounded
    (TakeOrderedAndProject). Ordering is total (ties broken by the window
    text itself), so the k-th boundary is deterministic on both engines."""
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_partition=128 * 1024,
    )
    toks = docs.withColumn("t", F.expr(TOKENS))
    ws = (
        f"CASE WHEN size(t) >= {SUBSTR_W} THEN "
        f"transform(sequence(0, size(t) - {SUBSTR_W}), "
        f"i -> concat_ws(' ', slice(t, i + 1, {SUBSTR_W}))) "
        f"ELSE array() END"
    )
    ex = (
        toks.where(F.size("t") >= SUBSTR_W)
        .select("doc_id", F.expr(ws).alias("ws"))
        .localCheckpoint(eager=False)  # Generate-over-inlined-chain pathology
        .select("doc_id", F.explode("ws").alias("span_text"))
    )
    return (
        ex.groupBy("span_text")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span_text"))
        .limit(BOILERPLATE_TOP_K)
    )


SUBSTRING_BOILERPLATE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS} AS t
  FROM documents
),
ex AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - {SUBSTR_W} + 2),
                i -> array_to_string(t[i:i + {SUBSTR_W} - 1], ' '))) AS span_text
  FROM toks WHERE len(t) >= {SUBSTR_W}
)
SELECT span_text, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
FROM ex GROUP BY span_text
HAVING count(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS}
ORDER BY n_docs DESC, n_occurrences DESC, span_text ASC
LIMIT {BOILERPLATE_TOP_K}
"""


# --------------------------------------------------------------------------- #
# incremental dedup (daily-ingest batch vs persisted index)
# --------------------------------------------------------------------------- #

def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dup_of, pos_new, pos_idx, span_len): INCREMENTAL ExactSubstr
    — repeated spans between each newly arriving document (fixture split:
    ``doc_id % INCR_BATCH_MOD = 0``, :func:`_split_batch`) and the
    already-indexed corpus, the daily steady state to
    :func:`dedup_substring`'s backfill: the positional fingerprint table is
    the write-once index, probed by :func:`_probe_index`. Hot index
    fingerprints (> ``SUBSTR_FP_CAP`` entries — boilerplate,
    non-discriminative) are excluded exactly as in the batch operator,
    mirrored in the oracle; the span merge is the same gaps-and-islands
    window over (new doc, index doc, diagonal)."""
    idx, batch = _split_batch(_positional_shingles(spark, sf_dir), ["fp"], SUBSTR_FP_CAP)
    m = _probe_index(idx, batch, ["fp"], ("pos",)).distinct()
    w_run = Window.partitionBy("doc_id", "dup_of", "diag").orderBy("pos_new")
    spans = (
        m.withColumn("diag", F.col("pos_new") - F.col("pos_idx"))
        .withColumn("run", F.col("pos_new") - F.row_number().over(w_run))
        .groupBy("doc_id", "dup_of", "diag", "run")
        .agg(
            F.min("pos_new").alias("pos_new"),
            F.min("pos_idx").alias("pos_idx"),
            (F.max("pos_new") - F.min("pos_new") + F.lit(SUBSTR_W)).alias("span_len"),
        )
    )
    return (
        spans.where(F.col("span_len") >= SUBSTR_MIN_SPAN)
        .select(
            "doc_id", "dup_of",
            F.col("pos_new").cast("int").alias("pos_new"),
            F.col("pos_idx").cast("int").alias("pos_idx"),
            F.col("span_len").cast("int").alias("span_len"),
        )
    )


DEDUP_SUBSTRING_INCR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS} AS t
  FROM documents
),
ex0 AS (
  SELECT doc_id,
         unnest(range(1, len(t) - {SUBSTR_W} + 2)) - 1 AS pos,
         unnest(list_transform(range(1, len(t) - {SUBSTR_W} + 2),
                i -> md5(array_to_string(t[i:i + {SUBSTR_W} - 1], ' ')))) AS fp
  FROM toks WHERE len(t) >= {SUBSTR_W}
),
idx0 AS (SELECT * FROM ex0 WHERE doc_id % {INCR_BATCH_MOD} <> 0),
hot AS (SELECT fp FROM idx0 GROUP BY fp HAVING count(*) > {SUBSTR_FP_CAP}),
idx AS (SELECT * FROM idx0 WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.fp = idx0.fp)),
newb AS (SELECT * FROM ex0 WHERE doc_id % {INCR_BATCH_MOD} = 0),
m AS (
  SELECT DISTINCT n.doc_id AS doc_id, n.pos AS pos_new,
                  i.doc_id AS dup_of, i.pos AS pos_idx
  FROM newb n JOIN idx i ON n.fp = i.fp
),
runs AS (
  SELECT doc_id, dup_of, pos_new, pos_idx, pos_new - pos_idx AS diag,
         pos_new - row_number() OVER (
           PARTITION BY doc_id, dup_of, pos_new - pos_idx ORDER BY pos_new) AS run
  FROM m
)
SELECT doc_id, dup_of,
       CAST(min(pos_new) AS INTEGER) AS pos_new,
       CAST(min(pos_idx) AS INTEGER) AS pos_idx,
       CAST(max(pos_new) - min(pos_new) + {SUBSTR_W} AS INTEGER) AS span_len
FROM runs
GROUP BY doc_id, dup_of, diag, run
HAVING max(pos_new) - min(pos_new) + {SUBSTR_W} >= {SUBSTR_MIN_SPAN}
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dup_of, jaccard): INCREMENTAL near-dup — each newly arriving
    document (fixture split: ``doc_id % INCR_BATCH_MOD = 0``) checked
    against the already-indexed corpus (the rest), verified with exact
    Jaccard ≥ 0.8. This is the operator a pipeline runs DAILY: the
    full-corpus ``dedup_minhash_lsh`` is the backfill; this is the steady
    state, its LSH band table the write-once index that
    :func:`_probe_index` probes. Hot index buckets are excluded exactly as in the batch operator
    (boilerplate band keys are non-discriminative), mirrored in the oracle.
    """
    # one (doc_id, sh, s0..s15) checkpoint, as in dedup_minhash_lsh: the
    # band table and the confirm sides project from the same blocks
    table = (
        minhash_signatures_with_sets(_shingle_sets(spark, sf_dir))
        .localCheckpoint(eager=False)
    )
    keys = ["band", "band_sig"]
    idx, batch = _split_batch(table, keys, LSH_BUCKET_CAP, _lsh_band_table)
    cand = _probe_index(idx, batch, keys).distinct()
    return _jaccard_confirm(cand, table.select("doc_id", "sh"))


def _lsh_band_table(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig): the MinHash LSH band table of a signature
    frame — the bands :func:`dedup_minhash_lsh` buckets and the write-once
    index state of the incremental family (:func:`dedup_incremental` and
    the persisted twin, which materializes it on disk via
    operators/persisted.py)."""
    n_bands = MINHASH_SEEDS // LSH_BAND_ROWS
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'band_sig', concat(s{LSH_BAND_ROWS * b}, s{LSH_BAND_ROWS * b + 1}))"
        for b in range(n_bands)
    )
    return sig.select(
        "doc_id", F.explode(F.expr(f"array({band_structs})")).alias("bb")
    ).select("doc_id", "bb.band", "bb.band_sig")


def _jaccard_confirm(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of a candidate-pair frame against the
    shingle sets: keeps (doc_id, dup_of, jaccard) at or above
    JACCARD_THRESHOLD — the shared confirm stage of the incremental MinHash
    family (in-memory and persisted twins)."""
    sa = sets.select(F.col("doc_id").alias("doc_id"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("dup_of"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "doc_id")
        .join(sb, "dup_of")
        .withColumn("common", F.expr("size(array_intersect(sh_a, sh_b))"))
        .select(
            "doc_id", "dup_of",
            F.round(
                F.col("common")
                / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


DEDUP_INCREMENTAL_ORACLE = f"""
WITH sh AS ({_SHINGLES_SQL}),
sig16 AS (SELECT doc_id, {_MINHASH_SIG_COLS} FROM sh GROUP BY doc_id),
allbands AS ({_MINHASH_BAND_SELECTS}),
idx0 AS (SELECT * FROM allbands WHERE doc_id % {INCR_BATCH_MOD} <> 0),
hot AS (SELECT band, band_sig FROM idx0
        GROUP BY band, band_sig HAVING count(*) > {LSH_BUCKET_CAP}),
idx AS (SELECT * FROM idx0 bb
        WHERE NOT EXISTS (SELECT 1 FROM hot h
                          WHERE h.band = bb.band AND h.band_sig = bb.band_sig)),
newb AS (SELECT * FROM allbands WHERE doc_id % {INCR_BATCH_MOD} = 0),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, i.doc_id AS dup_of
  FROM newb n JOIN idx i ON n.band = i.band AND n.band_sig = i.band_sig
),
cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
common AS (
  SELECT c.doc_id, c.dup_of, count(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_id
  JOIN sh b ON b.doc_id = c.dup_of AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT co.doc_id, co.dup_of,
       round(common * 1.0 / (ca.n_sh + cb.n_sh - common), 6) AS jaccard
FROM common co
JOIN cnt ca ON ca.doc_id = co.doc_id
JOIN cnt cb ON cb.doc_id = co.dup_of
WHERE common * 1.0 / (ca.n_sh + cb.n_sh - common) >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------- #
# bloom-pruned incremental EXACT dedup
# --------------------------------------------------------------------------- #

# bloom sizing: m bit positions shared by BLOOM_HASHES independent hashes.
# The broadcast "filter" is the DISTINCT set of occupied positions — at most
# min(BLOOM_HASHES * index_rows, BLOOM_BITS) rows of one int, so its size
# SATURATES at BLOOM_BITS longs (~8 MB at 2^20) no matter how large the
# index grows; false-positive rate ≈ occupancy^BLOOM_HASHES. The fixed m is
# a deliberate broadcast-size bound, and the filter DEGRADES GRACEFULLY
# rather than breaking: occupancy ≈ 1−e^(−2n/m), so per index size n the
# fraction of NOVEL batch rows still pruned (1 − fpp) is
#   n = 50k  → occ  9%, prunes 99.2% of novel rows
#   n = 500k → occ 62%, prunes 62%
#   n = 5M   → occ 99.99%, prunes ~0% (results STILL exact — the filter
#              only ever pre-prunes; the confirm join is the truth)
# Past ~1M index docs the production move is NOT a bigger m (the broadcast
# would grow with it): shard the filter with the bucketed-by-hash index —
# per-bucket position sets, each bounded by this same law over n/buckets.
BLOOM_BITS = 1 << 20
BLOOM_HASHES = 2


def _bloom_positions(h: str) -> list:
    """The BLOOM_HASHES bit positions of md5-hex column ``h`` — k seeded
    xxhash64 probes mod BLOOM_BITS. Free choice of hash family: the filter
    only PRUNES (no false negatives — a true match's positions are occupied
    by the index copy of the identical md5), so the oracle never needs to
    mirror it."""
    return [
        F.pmod(F.xxhash64(F.col(h), F.lit(seed)), F.lit(BLOOM_BITS)).alias(f"p{seed}")
        for seed in range(BLOOM_HASHES)
    ]


def _bloom_split_and_prune(spark: SparkSession, sf_dir: str, occupied=None,
                           batch_mod: int = INCR_BATCH_MOD):
    """(batch, idx, occupied, pruned) — the batch/index split, the index's
    occupied-position set, and the bloom-pruned batch. The single source of
    truth for the filter chain: :func:`dedup_incremental_bloom` builds its
    confirm join on it, and the skew bench measures ITS selectivity (so the
    bench can never silently drift from the operator's filter). Pass
    ``occupied`` to prune against an EXTERNAL (persisted) position set —
    the write-once production form (operators/persisted.py); by default the
    set derives from the index split in-plan. ``batch_mod`` sets the
    batch-to-corpus ratio (1/batch_mod of the docs arrive as "new"):
    INCR_BATCH_MOD's 20% fixture split for the registered twins, and the
    sub-percent ``INCR_DAILY_MOD`` split for the daily-regime persisted
    probe whose bucket pruning the sf10 evidence measures."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    is_new = F.col("doc_id") % batch_mod == 0
    idx = docs.where(~is_new)
    batch = docs.where(is_new)
    # occupied-position set: explode k probes per index row, distinct —
    # bounded by BLOOM_BITS rows regardless of index size. Lineage cut:
    # BLOOM_HASHES broadcast consumers below must not re-scan the index to
    # rebuild the same set
    if occupied is None:
        occupied = (
            idx.select(F.explode(F.array(*_bloom_positions("h"))).alias("pos"))
            .distinct()
            .localCheckpoint(eager=False)
        )
    pruned = batch
    for seed in range(BLOOM_HASHES):
        probe = F.pmod(F.xxhash64(F.col("h"), F.lit(seed)), F.lit(BLOOM_BITS))
        pruned = pruned.join(
            F.broadcast(occupied),
            probe == F.col("pos"),
            "left_semi",
        )
    return batch, idx, occupied, pruned


def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dup_of, is_dup): the daily-batch exact-dedup REPORT — every
    newly arriving document (fixture split: ``doc_id % INCR_BATCH_MOD = 0``,
    the :func:`dedup_incremental` contract) with the earliest already-
    indexed EXACT (md5) duplicate as ``dup_of`` (NULL when the document is
    novel) — the steady-state daily twin of :func:`dedup_exact`, with a
    BLOOM-filter pre-probe. One row per batch document, match or not: the
    report is what the ingest job acts on (route dups to quarantine, novel
    docs to the index append).

    Scale shape — why the bloom leg exists: at 100 TB the INDEX side is the
    whole historical corpus, so NOTHING may reshuffle it. The index
    aggregates its occupied bit positions ONCE (write-once state, appended
    per batch in production, like the LSH band table), the ≤ 8 MB position
    set broadcasts, and every batch row whose k positions aren't all
    occupied — at typical dup rates, almost all of them — drops map-side
    before the confirm join even sees it. The confirm join then broadcasts
    the PRUNED batch into the index scan (never the reverse — plan-asserted
    like dedup_incremental's band probe), and in production lands on a
    bucketed-by-hash index so survivors touch only their bucket. No false
    negatives (identical md5 ⇒ identical positions), so results are EXACTLY
    the unfiltered probe's and the oracle is the plain exact-match SQL;
    false positives only cost confirm-join work.
    """
    batch, idx, occupied, pruned = _bloom_split_and_prune(spark, sf_dir)
    # confirm join: the PRUNED BATCH broadcasts into the index — the index
    # (the 100 TB side) never reshuffles, same discipline as
    # dedup_incremental's band probe
    matches = (
        idx.select(F.col("doc_id").alias("dup_of"), "h")
        .join(F.broadcast(pruned), "h")
        .groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
    )
    return (
        batch.select("doc_id")
        .join(F.broadcast(matches), "doc_id", "left")
        .select("doc_id", "dup_of", F.col("dup_of").isNotNull().alias("is_dup"))
    )


def dedup_incremental_bloom_oracle(batch_mod: int = INCR_BATCH_MOD) -> str:
    """The exact-match incremental report oracle, parameterized by the batch
    split — the bloom filter and every persisted-index lever are invisible
    to it (they only ever pre-prune; the confirm join is the truth)."""
    return f"""
WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
idx AS (SELECT * FROM hashed WHERE doc_id % {batch_mod} <> 0),
batch AS (SELECT * FROM hashed WHERE doc_id % {batch_mod} = 0),
matches AS (
  SELECT b.doc_id, min(i.doc_id) AS dup_of
  FROM batch b JOIN idx i ON i.h = b.h
  GROUP BY b.doc_id
)
SELECT b.doc_id, m.dup_of, (m.dup_of IS NOT NULL) AS is_dup
FROM batch b LEFT JOIN matches m ON m.doc_id = b.doc_id
"""


DEDUP_INCREMENTAL_BLOOM_ORACLE = dedup_incremental_bloom_oracle()


# --------------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------------- #

def _band_key(hi: str, lo: str, band: int) -> str:
    """16-bit band key ``band`` (0..3) of a 64-bit sketch stored as 32-bit
    halves: bands 0-1 from the low half, 2-3 from the high half. The
    floor-division arithmetic in ``band_key_expr`` is exact because each half
    is < 2^32 (< 2^53, double-safe) — the reason for the split representation."""
    half = lo if band < 2 else hi
    return band_key_expr(half, band % 2, band_bits=SIMHASH_BAND_BITS)


def _hamming64_spark(hi_a: str, lo_a: str, hi_b: str, lo_b: str) -> str:
    return f"({hamming_int_spark(hi_a, hi_b)} + {hamming_int_spark(lo_a, lo_b)})"


def _hamming64_duck(hi_a: str, lo_a: str, hi_b: str, lo_b: str) -> str:
    return f"({hamming_int_duck(hi_a, hi_b)} + {hamming_int_duck(lo_a, lo_b)})"


def _earlier_band_mismatch(a_cols: tuple[str, str], b_cols: tuple[str, str],
                           n_bands: int = SIMHASH_BANDS) -> str:
    """Emit-once predicate replacing DISTINCT on candidates: keep a pair at
    band b only if NO earlier band also matched. Pure expression — candidate
    rows never shuffle for dedup. ``a_cols``/``b_cols`` are (hi, lo) column
    names of the two sides; ``n_bands`` is the CALLER's band count (the
    image tier passes its own PHASH_BANDS — they happen to be equal today,
    but tuning one must not silently skip the other's later bands)."""
    conds = [
        f"(band <= {n} OR {_band_key(*a_cols, n)} <> {_band_key(*b_cols, n)})"
        for n in range(n_bands - 1)
    ]
    return " AND ".join(conds)


def simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sim_hi, sim_lo): 64-bit sign-of-votes fingerprint over token
    occurrences (bit j set ⇔ sum over tokens of ±1 votes for md5-bit j ≥ 0),
    as two 32-bit integer halves (lo = bits 0-31, hi = bits 32-63).

    The 64 per-bit vote terms (md5 + hex-digit arithmetic each) are
    dictionary-encoded exactly like the stemmer: computed once per DISTINCT
    token (Heaps-law-bounded vocabulary) and broadcast-joined back, so each
    token OCCURRENCE costs one hash-join probe plus 64 integer additions in
    the partial aggregate instead of 64 hash-bit extractions — measured ~3×
    on the sf0.1 corpus. ``localCheckpoint`` cuts the 64-expression chain
    out of the enclosing join plan (same Catalyst rationale as
    ``tfidf.stem_dictionary``)."""
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(TOKENS)).alias("token"),
    )
    vote_dict = (
        toks.select("token").distinct()
        .withColumn("h", F.md5("token"))
        .select(
            "token",
            *[F.expr(v).alias(f"b{j}")
              for j, v in enumerate(simhash_vote_exprs("h", bits=SIMHASH_BITS))],
        )
        .localCheckpoint(eager=False)
    )
    joined = toks.join(F.broadcast(vote_dict), "token")
    agg = joined.groupBy("doc_id").agg(
        *[F.sum(f"b{j}").alias(f"v{j}") for j in range(SIMHASH_BITS)]
    )
    half = SIMHASH_BITS // 2
    return agg.select(
        "doc_id",
        F.expr(simhash_int_expr([f"v{j}" for j in range(half, SIMHASH_BITS)])).alias("sim_hi"),
        F.expr(simhash_int_expr([f"v{j}" for j in range(half)])).alias("sim_lo"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming): banded SimHash candidates with hamming ≤ 3
    over the 64-bit fingerprint.

    Bands: 4 × 16 bits — any pair within hamming 3 shares ≥ 1 exact band
    (pigeonhole), so banding loses nothing while avoiding the all-pairs join;
    the 65536-value key space keeps buckets small even when a narrow
    vocabulary concentrates the sketches (the 32-bit/8-bit-band variant
    produced ~10× the candidates on the closed-vocab fixture). Integer
    sketches: hamming is two ``bit_count(xor)``s; the emit-once band
    predicate replaces a DISTINCT shuffle over the candidates.
    """
    # one row per doc (two ints): cut lineage so the hot-bucket count and the
    # anti-join side share one materialization of the 64-vote aggregation
    sim = simhash_table(spark, sf_dir).localCheckpoint(eager=False)
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bkey', {_band_key('sim_hi', 'sim_lo', b)})"
        for b in range(SIMHASH_BANDS)
    )
    banded = sim.select(
        "doc_id", "sim_hi", "sim_lo",
        F.explode(F.expr(f"array({band_structs})")).alias("bb"),
    ).select("doc_id", "sim_hi", "sim_lo", "bb.band", "bb.bkey")
    # Hot-bucket cap composed with emit-once: a pair is kept iff its SMALLEST
    # matching band is cold — if the first matching band is degenerate
    # (boilerplate key), the pair is dropped even when a later cold band also
    # matches (the later emission is suppressed by the emit-once predicate).
    # Deterministic, mirrored by the oracle; recall caveat documented above.
    banded = _drop_hot_buckets(banded, ["band", "bkey"], LSH_BUCKET_CAP)
    # Bucket-grouped pair generation: one grouping shuffle, then a pure
    # expression expands each bucket's (doc_id-sorted) member list into
    # ordered pairs — replaces the two-sided band self-join (same rows
    # shuffled twice + the 64-vote sketch projection computed per side).
    pairs = (
        banded.groupBy("band", "bkey")
        .agg(F.expr("array_sort(collect_list(struct(doc_id, sim_hi, sim_lo)))").alias("ds"))
        .where(F.size("ds") >= 2)
        .select("band", F.explode(F.expr(_ordered_pairs_expr("ds"))).alias("p"))
        .select(
            "band",
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_a.sim_hi").alias("hi_a"), F.col("p.doc_a.sim_lo").alias("lo_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
            F.col("p.doc_b.sim_hi").alias("hi_b"), F.col("p.doc_b.sim_lo").alias("lo_b"),
        )
    )
    return (
        pairs.withColumn("hamming", F.expr(_hamming64_spark("hi_a", "lo_a", "hi_b", "lo_b")))
        .where(F.col("hamming") <= HAMMING_THRESHOLD)
        .where(F.expr(_earlier_band_mismatch(("hi_a", "lo_a"), ("hi_b", "lo_b"))))
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_oracle_table() -> str:
    votes = ", ".join(
        f"sum({v}) AS v{j}"
        for j, v in enumerate(simhash_vote_exprs("h", bits=SIMHASH_BITS))
    )
    half = SIMHASH_BITS // 2
    hi = simhash_int_expr([f"v{j}" for j in range(half, SIMHASH_BITS)])
    lo = simhash_int_expr([f"v{j}" for j in range(half)])
    return f"""
toks AS (
  SELECT doc_id, md5(token) AS h FROM (
    SELECT doc_id, unnest({TOKENS}) AS token
    FROM documents
  ) simtoks
),
votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id),
sim AS (SELECT doc_id, {hi} AS sim_hi, {lo} AS sim_lo FROM votes)
"""


def simhash_oracle() -> str:
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, sim_hi, sim_lo, {b} AS band,"
        f" {_band_key('sim_hi', 'sim_lo', b)} AS bkey FROM sim"
        for b in range(SIMHASH_BANDS)
    )
    ham = _hamming64_duck("a.sim_hi", "a.sim_lo", "b.sim_hi", "b.sim_lo")
    emit_once = _earlier_band_mismatch(
        ("a.sim_hi", "a.sim_lo"), ("b.sim_hi", "b.sim_lo")
    ).replace("band <=", "a.band <=")
    return f"""
WITH {_simhash_oracle_table()},
allbanded AS ({band_selects}),
hot AS (SELECT band, bkey FROM allbanded
        GROUP BY band, bkey HAVING count(*) > {LSH_BUCKET_CAP}),
banded AS (SELECT * FROM allbanded bb
           WHERE NOT EXISTS (SELECT 1 FROM hot h
                             WHERE h.band = bb.band AND h.bkey = bb.bkey))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {ham} AS hamming
FROM banded a
JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE {ham} <= {HAMMING_THRESHOLD}
  AND {emit_once}
"""


# --------------------------------------------------------------------------- #
# near-dup cluster formation (connected components + survivor election)
# --------------------------------------------------------------------------- #

CC_MAX_ITERS = 20
# Edge count at or below which connected_components stops running
# distributed rounds and finishes on the driver: 2^20 canonical pairs are
# two 8 MB int64 columns, well inside the driver's Python process.
CC_LOCAL_EDGES = 1 << 20


def min_root_forest(parent, ia, ib):
    """Union the index edges ``(ia[k], ib[k])`` into the forest ``parent``
    and return it fully compressed: every index then points straight at the
    SMALLEST index of its component. ``parent`` must already point each
    index at a smaller-or-equal one (``np.arange(n)`` to start, or an
    earlier result) and may be updated in place.

    Vectorized min-hook/pointer-jump union-find, shared by the cell-local
    IVF labeling (``similarity._ivf_cell_labels``) and the local finish of
    :func:`connected_components`: hook every edge's two roots to their
    minimum (min-index hooking ⇒ the root is the component's smallest
    index), compress by pointer jumping (p <- p[p] until fixpoint; hooks
    only ever point to smaller indices, so the map is acyclic), and repeat
    until every edge is intra-component. All steps are numpy ufuncs over
    O(edges + nodes) elements, repeated O(log component-size) times — no
    per-edge interpreted work, which would be ~1.1M Python iterations in ONE
    task for the skew bench's 1500-member hot cell."""
    import numpy as np

    while True:
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        ra, rb = parent[ia], parent[ib]
        if (ra == rb).all():
            return parent
        m = np.minimum(ra, rb)
        np.minimum.at(parent, ra, m)
        np.minimum.at(parent, rb, m)


def _local_labels(pdf):
    """The local finish on the driver: (doc_id, cluster_id = component
    min) for every node of the ``(u, v)`` edges in ``pdf``. Nodes are
    numbered in ascending id order, so the smallest index of a component is
    its smallest id."""
    import numpy as np
    import pandas as pd

    ids, idx = np.unique(
        np.concatenate([pdf["u"].to_numpy(), pdf["v"].to_numpy()]), return_inverse=True
    )
    n = len(pdf)
    parent = min_root_forest(np.arange(len(ids)), idx[:n], idx[n:])
    return pd.DataFrame({"doc_id": ids, "cluster_id": ids[parent]})


def _closed_min(pairs: DataFrame) -> DataFrame:
    """(u, nb, m): every node of the ``(u, v)`` edges with its neighbor set
    Γ(u) and m = min(Γ(u) ∪ {u}). One grouping of the symmetric closure
    (each edge exploded into both directions), so one hash exchange;
    ``collect_set`` drops duplicate edges inside each group, so the input
    need not be distinct. Γ(u) is one row in one task: its size is u's
    degree, at most its component's size."""
    return (
        pairs.select(F.inline(F.array(
            F.struct("u", "v"), F.struct(F.col("v").alias("u"), F.col("u").alias("v")))))
        .groupBy("u").agg(F.collect_set("v").alias("nb"))
        .withColumn("m", F.least("u", F.array_min("nb")))
    )


def _star_round(pairs: DataFrame) -> DataFrame:
    """One large-star + small-star round of :func:`connected_components`
    over canonical ``(u, v)`` edges (u > v): every member x ≠ m of each
    node's closed neighborhood Γ(u) ∪ {u} attached to m. Every emitted edge
    has x > m, so the output stays canonical; it may repeat an edge that
    two nodes emit."""
    return _closed_min(pairs).select(
        F.explode(F.array_remove(F.concat("nb", F.array("u")), F.col("m"))).alias("u"),
        F.col("m").alias("v"),
    )


def connected_components(edges: DataFrame, src: str = "doc_a", dst: str = "doc_b",
                         max_iters: int = CC_MAX_ITERS, stats: dict | None = None,
                         local_edges: int = CC_LOCAL_EDGES) -> DataFrame:
    """(doc_id, cluster_id): connected components of the undirected pair
    graph, cluster_id = min member id — the step a production dedup pipeline
    runs AFTER candidate generation (pairs alone over-delete: A~B and B~C
    must collapse to ONE surviving doc even when A~C was never scored).

    Distributed rounds only while the graph is large, then one in-memory
    finish (the round-cost argument of *MapReduce Algorithms for Big Data
    Analysis*, VLDB'12: pay for a round only while the data cannot be
    finished in one place):

    - ROUNDS: large-star and small-star (Kiveris et al., "Connected
      Components in MapReduce and Beyond", SoCC'14 — public algorithm),
      both in every round. O(log n) rounds in the component SIZE, not the
      diameter, so long path-shaped near-dup chains converge in ~log rounds
      where plain label propagation needs diameter rounds. Each round
      preserves every component, its minimum and its node set; the edge
      count shrinks toward the star forest. With m(u) = min(Γ(u) ∪ {u}):

      - large-star(u): connect every neighbor x > u to m(u);
      - small-star(u), when u has a smaller neighbor: connect u and every
        smaller neighbor x ≠ m(u) to m(u).

      Their union is {(x, m(u)) : x ∈ Γ(u) ∪ {u}, x ≠ m(u)}, so a round
      (:func:`_star_round`) is one reducer over each node's neighbor set:
      one grouping, then one generator, no join.
    - LOCAL FINISH: once the probed edge count is at or below
      ``local_edges`` (default :data:`CC_LOCAL_EDGES`), the driver collects
      the remaining edges (``toPandas``), labels every node with the
      vectorized union-find :func:`min_root_forest` and returns the labels
      as a local frame: no exchange and no Python worker. At fixture scale
      this happens at the first probe, before any round.

    ``local_edges=0`` runs rounds only: no up-front probe, rounds to the
    fixpoint, then star extraction (every node of the final edges labeled
    m(u)) — the pure distributed form, which
    :func:`connected_components_twostar` keeps under the oracle.

    The up-front probe cuts the canonical pairs and counts them in the
    cut's own job, with no ``distinct``: a repeated edge only makes the
    count an upper bound, and both the union-find and the rounds'
    ``collect_set`` ignore repeats. Then two rounds per probe: the round
    probe takes the distinct edge set, cuts it and computes its signature
    (count + order-insensitive bit_xor of per-edge xxhash64; xor is exact
    because the set is distinct). The fixpoint is a signature seen before
    at any earlier round probe, so a periodic oscillation terminates
    instead of spinning to the cap (Kiveris et al. prove monotone
    convergence, so a revisited state can never progress further). The
    same probe's count decides the local finish. ``stats["rounds"]``
    (optional out-param) reports the star rounds run.

    CAP-EXHAUSTION CONTRACT: if ``max_iters`` probes (2·max_iters rounds)
    pass before a fixpoint or a local finish, the star extraction can
    assign labels that are NOT component minima — i.e. an OVER-SPLIT
    labeling (one true component reported as several), not merely a
    coarser merge. For dedup that direction is safe (keeps extra docs,
    never deletes across a split), but callers must treat the
    RuntimeWarning as a correctness signal and raise the cap."""
    def probe(df: DataFrame) -> tuple[DataFrame, tuple]:
        # a round's distinct edge set, cut, with its signature observed in
        # the cut's own job; under AQE the cut also runs the upstream
        # shuffle stages, one job each
        sig = Observation()
        cut = df.distinct().observe(
            sig, F.count(F.lit(1)).alias("n"), F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).localCheckpoint(eager=True)
        return cut, (sig.get["n"], sig.get["h"])

    # canonical (child=max, parent=min) pairs, self-loops dropped
    pairs = (
        edges.select(F.greatest(F.col(src), F.col(dst)).alias("u"),
                     F.least(F.col(src), F.col(dst)).alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    seen: set[tuple] = set()
    rounds = 0
    finish_local = False
    if local_edges > 0:
        # only this count is read: no distinct and no signature (a repeated
        # edge makes it an upper bound, which both finishes tolerate)
        n = Observation()
        pairs = pairs.observe(n, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
        finish_local = n.get["n"] <= local_edges
    while not finish_local:
        if rounds == 2 * max_iters:
            warnings.warn(
                f"connected_components hit the {max_iters}-round cap "
                "before the edge set reached a fixpoint or the local-finish "
                "bound; the star extraction below may OVER-SPLIT components "
                "(labels that are not component minima) — safe for dedup "
                "(never merges across components) but raise max_iters (or "
                "local_edges) before trusting the clustering",
                RuntimeWarning,
                stacklevel=2,
            )
            break
        pairs, sig = probe(_star_round(_star_round(pairs)))
        rounds += 2
        if sig in seen:
            break
        seen.add(sig)
        finish_local = local_edges > 0 and sig[0] <= local_edges
    if stats is not None:
        stats["rounds"] = rounds
    if finish_local:
        return pairs.sparkSession.createDataFrame(
            _local_labels(pairs.toPandas()), "doc_id long, cluster_id long")
    # at a fixpoint the canonical edges form stars: each node's m is its root
    return _closed_min(pairs).select(F.col("u").alias("doc_id"), F.col("m").alias("cluster_id"))


def connected_components_twostar(edges: DataFrame, src: str = "doc_a", dst: str = "doc_b",
                                  max_iters: int = CC_MAX_ITERS,
                                  stats: dict | None = None) -> DataFrame:
    """:func:`connected_components` with star rounds only (``local_edges=0``):
    rounds to the fixpoint, then star extraction, however small the graph —
    the form a graph too large for the driver takes, kept under the oracle by
    ``dedup_clusters_twostar`` and measured by tools/skew_bench.py."""
    return connected_components(edges, src, dst, max_iters, stats, local_edges=0)


def _elect_min_id(labels: DataFrame) -> DataFrame:
    return labels.select(
        "doc_id", "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, is_canonical): near-dup clusters — minhash-LSH
    verified pairs → :func:`connected_components` (default local-finish
    bound) → the min-id survivor elected per cluster. Docs in no pair are
    absent (singletons keep themselves — trivially canonical)."""
    return _elect_min_id(connected_components(dedup_minhash_lsh(spark, sf_dir)))


def dedup_clusters_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as :func:`dedup_clusters`, with the components from
    distributed star rounds alone (:func:`connected_components_twostar`, no
    up-front probe and no local finish on the driver). No fixture exceeds
    :data:`CC_LOCAL_EDGES`, so this query is what keeps the rounds checked
    against the identical recursive-CTE oracle."""
    return _elect_min_id(connected_components_twostar(dedup_minhash_lsh(spark, sf_dir)))


def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id): the DEDUPLICATED CORPUS — what a training-data pipeline
    actually materializes: every document except the non-canonical members
    of near-dup clusters. One left-anti join of the full corpus against the
    (tiny relative to the corpus) loser set; at scale the loser side is a
    shuffle-hash/broadcast build side, the corpus side streams."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    losers = (
        dedup_clusters(spark, sf_dir)
        .where(~F.col("is_canonical"))
        .select("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")


DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({MINHASH_LSH_ORACLE.replace(chr(10), ' ')}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a, a AS r FROM (SELECT DISTINCT a FROM edges) nodes0
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.a = e.b
)
SELECT a AS doc_id, min(r) AS cluster_id,
       (a = min(r)) AS is_canonical
FROM reach GROUP BY a
"""


DEDUP_APPLY_ORACLE = f"""
SELECT d.doc_id
FROM documents d
LEFT JOIN ({DEDUP_CLUSTERS_ORACLE}) c
  ON d.doc_id = c.doc_id AND NOT c.is_canonical
WHERE c.doc_id IS NULL
"""


def dedup_apply_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quality_prob): the deduplicated corpus with QUALITY-AWARE
    survivor election — per near-dup cluster the member with the highest
    quality-classifier probability survives (tie → min doc_id), instead of
    :func:`dedup_apply`'s blind min-id rule. This is what production
    pipelines actually want from dedup: near-dup clusters mix a clean
    original with mangled scrapes of it, and min-id keeps whichever was
    crawled first, not whichever is best. Election is two bounded
    aggregations over the cluster membership (max prob per cluster, then
    min doc_id among the max — the float-equality join is safe because
    quality_prob is ROUNDED identically in both engines), so no per-cluster
    window ever sees more than its own members, and the giant-component
    case costs two partial-aggregated shuffles, not a rank window.
    Singletons (docs in no cluster, incl. NULL-text docs, which produce no
    shingles) survive with their own probability (NULL for NULL text)."""
    from tf_idf_using_mapreduce_spark.operators.textstats import quality_classifier

    # TWO consumers of the classifier frame (cluster members + the final
    # left join that carries quality_prob onto survivors) — cut once (r15),
    # else the whole classifier feature pipeline re-runs from parquet per
    # consumer (~1.3 s at sf0.1)
    q = (quality_classifier(spark, sf_dir).select("doc_id", "quality_prob")
         .localCheckpoint(eager=False))
    members = (
        dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
        .join(q, "doc_id")
        .localCheckpoint(eager=False)
    )
    mx = members.groupBy("cluster_id").agg(F.max("quality_prob").alias("mp"))
    winners = (
        members.join(mx, "cluster_id")
        .where(F.col("quality_prob") == F.col("mp"))
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    losers = members.select("doc_id").join(winners, "doc_id", "left_anti")
    return (
        load_table(spark, sf_dir, "documents").select("doc_id")
        .join(losers, "doc_id", "left_anti")
        .join(q, "doc_id", "left")
        .select("doc_id", "quality_prob")
    )


def dedup_apply_quality_oracle() -> str:
    from tf_idf_using_mapreduce_spark.operators.textstats import quality_classifier_oracle

    return f"""
WITH clusters AS ({DEDUP_CLUSTERS_ORACLE.replace(chr(10), ' ')}),
quality AS (SELECT doc_id, quality_prob FROM ({quality_classifier_oracle()}) qq),
members AS (
  SELECT c.doc_id, c.cluster_id, q.quality_prob
  FROM clusters c JOIN quality q ON q.doc_id = c.doc_id
),
mx AS (SELECT cluster_id, max(quality_prob) AS mp FROM members GROUP BY cluster_id),
winners AS (
  SELECT min(m.doc_id) AS doc_id
  FROM members m JOIN mx ON mx.cluster_id = m.cluster_id
  WHERE m.quality_prob = mx.mp
  GROUP BY m.cluster_id
),
losers AS (
  SELECT m.doc_id FROM members m
  LEFT JOIN winners w ON w.doc_id = m.doc_id
  WHERE w.doc_id IS NULL
)
SELECT d.doc_id, q.quality_prob
FROM documents d
LEFT JOIN quality q ON q.doc_id = d.doc_id
LEFT JOIN losers l ON l.doc_id = d.doc_id
WHERE l.doc_id IS NULL
"""


# --------------------------------------------------------------------------- #
# cross-source duplication matrix (corpus-overlap report)
# --------------------------------------------------------------------------- #

def source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, n_pairs, max_jaccard): verified near-dup pairs
    rolled up by UNORDERED source pair — the corpus-overlap report that
    decides mixture weights (two crawls sharing half their docs must not
    both keep weight 1.0). Rides entirely on :func:`dedup_minhash_lsh`'s
    pair pipeline plus two broadcast-able dimension probes and one tiny
    aggregation; max (not avg) keeps the rollup arithmetic-free, so no
    float-sum order can perturb values."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def source_dup_matrix_oracle() -> str:
    return f"""
WITH pairs AS ({MINHASH_LSH_ORACLE})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       max(jaccard) AS max_jaccard
FROM pairs
JOIN documents da ON da.doc_id = pairs.doc_a
JOIN documents db ON db.doc_id = pairs.doc_b
GROUP BY 1, 2
"""
