"""Dedup suite: oracle parity, LSH recall vs the exact baseline, sketch
determinism (SURVEY.md §7.2 #7)."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE, assert_query_matches_oracle, jobs_of
from tf_idf_using_mapreduce_spark.operators import dedup


@pytest.mark.parametrize(
    "name",
    ["dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
     "dedup_embedding_cosine"],
)
def test_oracle_parity(spark, name):
    assert_query_matches_oracle(spark, name)


def test_minhash_lsh_recall_vs_exact(spark):
    """Candidate generation must not lose true near-dup pairs at j >= 0.8
    (theoretical recall 1-(1-j^2)^8 ≈ 0.9997 at the threshold)."""
    exact = {(r["doc_a"], r["doc_b"]) for r in dedup.dedup_ngram_jaccard(spark, SF_SMOKE).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in dedup.dedup_minhash_lsh(spark, SF_SMOKE).collect()}
    assert exact, "fixture should contain near-duplicate documents"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.95, (recall, exact - lsh)
    # verification step means LSH can't report pairs the exact measure rejects
    assert lsh <= exact


def test_simhash_near_dups_cover_jaccard_dups(spark):
    """Strong near-dups (j >= 0.9) should collide in simhash within 3 bits."""
    strong = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_ngram_jaccard(spark, SF_SMOKE).collect()
        if r["jaccard"] >= 0.95
    }
    sim = {(r["doc_a"], r["doc_b"]) for r in dedup.dedup_simhash(spark, SF_SMOKE).collect()}
    assert strong, "expect some very-near duplicates in the fixture"
    covered = len(strong & sim) / len(strong)
    assert covered >= 0.8, (covered, strong - sim)


def test_exact_dedup_survivors_unique(spark):
    rows = dedup.dedup_exact(spark, SF_SMOKE).collect()
    assert len({r["text_hash"] for r in rows}) == len(rows)
    assert all(r["n_docs"] >= 1 for r in rows)


def test_simhash_is_deterministic(spark):
    a = sorted(
        (r["doc_id"], r["sim_hi"], r["sim_lo"])
        for r in dedup.simhash_table(spark, SF_SMOKE).collect()
    )
    b = sorted(
        (r["doc_id"], r["sim_hi"], r["sim_lo"])
        for r in dedup.simhash_table(spark, SF_SMOKE).collect()
    )
    assert a == b
    # 64-bit fingerprint as two 32-bit halves (keeps band math double-exact)
    assert all(0 <= hi < 2**32 and 0 <= lo < 2**32 for _, hi, lo in a)


def test_connected_components_transitive(spark):
    """A~B and B~C must land in ONE cluster even with no A~C edge — the
    reason pair output alone can't drive dedup deletion — and a chain longer
    than one hop must still converge under the iteration cap."""
    from tf_idf_using_mapreduce_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20, 24: 20}


def test_dedup_clusters_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_clusters")


def test_dedup_clusters_canonical_is_min_member(spark):
    from tf_idf_using_mapreduce_spark.operators.dedup import dedup_clusters

    rows = dedup_clusters(spark, SF_SMOKE).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m["doc_id"] for m in members)
        canon = [m for m in members if m["is_canonical"]]
        assert len(canon) == 1 and canon[0]["doc_id"] == cid


def test_connected_components_local_finish_matches_twostar(spark):
    """The local union-find finish (default bound) and star rounds alone
    (``local_edges=0``) must produce the identical labeling: a long path
    (diameter 9 — the regime star rounds are built for), a star, and
    singleton-adjacent pairs."""
    from tf_idf_using_mapreduce_spark.operators.dedup import connected_components

    path = [(i, i + 1) for i in range(1, 10)]          # 1-2-3-...-10
    star = [(50, x) for x in (51, 52, 53, 54)]          # hub 50
    extra = [(70, 71), (80, 81), (81, 82)]
    edges = spark.createDataFrame(path + star + extra, "doc_a long, doc_b long")
    local, rounds = {}, {}
    a = {r["doc_id"]: r["cluster_id"] for r in
         connected_components(edges, stats=local).collect()}
    b = {r["doc_id"]: r["cluster_id"] for r in
         connected_components(edges, local_edges=0, stats=rounds).collect()}
    assert a == b
    assert b[10] == 1 and b[54] == 50 and b[82] == 80
    # the default bound finishes before any round; bound 0 runs rounds only
    assert local["rounds"] == 0 and rounds["rounds"] > 0


def test_connected_components_rounds_then_local_finish(spark):
    """A graph above the bound runs star rounds until the edge count fits,
    then finishes locally: K5 plus one pair (11 edges) collapses to a 4-edge
    star plus the pair after one probe, which a bound of 5 takes — the
    fixpoint path would need a second probe to see the stars repeat."""
    from tf_idf_using_mapreduce_spark.operators.dedup import connected_components

    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    edges = spark.createDataFrame(k5 + [(8, 9)], "doc_a long, doc_b long")
    stats = {}
    got = {r["doc_id"]: r["cluster_id"] for r in
           connected_components(edges, local_edges=5, stats=stats).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 8: 8, 9: 8}
    assert stats["rounds"] == 2


def test_connected_components_twostar_round_bound(spark):
    """Two-star's value proposition: a 16-node path converges well inside the
    iteration cap (O(log n) rounds, not diameter=15)."""
    from tf_idf_using_mapreduce_spark.operators.dedup import connected_components_twostar

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 16)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in
           connected_components_twostar(edges, max_iters=8).collect()}
    assert got == {i: 1 for i in range(1, 17)}


def test_dedup_clusters_twostar_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_clusters_twostar")


def test_connected_components_warns_on_cap_exhaustion(spark):
    """Hitting the iteration cap must be LOUD (silent non-convergence would
    over/under-delete in dedup), while still returning a labeling that only
    ever points a node at a smaller member of its component."""
    import warnings as _w
    from tf_idf_using_mapreduce_spark.operators.dedup import (
        connected_components,
        connected_components_twostar,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 16)], "doc_a long, doc_b long"
    )
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        got = {r["doc_id"]: r["cluster_id"] for r in
               connected_components(edges, max_iters=1, local_edges=0).collect()}
    assert any("round cap" in str(w.message) for w in rec)
    assert all(cid <= d for d, cid in got.items())
    # the exact OVER-SPLIT labeling after one probe (two star rounds): each
    # node past 5 points 4 hops down the path, not at the component min 1
    assert got == {d: max(1, d - 4) for d in range(1, 17)}
    with _w.catch_warnings(record=True) as rec2:
        _w.simplefilter("always")
        connected_components_twostar(edges, max_iters=1).collect()
    assert any("round cap" in str(w.message) for w in rec2)


def test_connected_components_job_count(spark):
    """Job-count regression guard. Rounds only (``local_edges=0``), the
    16-node path runs 8 star rounds = 4 probes of 4 jobs each (the round,
    round and distinct map stages plus the observed cut), then 2 for the
    extraction. At the default bound the transitive fixture runs the
    up-front probe's counted cut and the driver's ``toPandas`` of it; the
    labels are a local frame, so the ``collect`` runs no job."""
    from tf_idf_using_mapreduce_spark.operators.dedup import connected_components

    path = spark.createDataFrame([(i, i + 1) for i in range(1, 16)], "doc_a long, doc_b long")
    stats = {}
    assert jobs_of(spark, lambda: connected_components(
        path, local_edges=0, stats=stats).collect(), "cc-path16") == 18
    assert stats["rounds"] == 8
    trans = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        "doc_a long, doc_b long",
    )
    assert jobs_of(spark, lambda: connected_components(trans).collect(), "cc-trans") == 2


def test_connected_components_local_finish_runs_no_python_worker(spark):
    """The local finish labels on the driver: the result's executed plan
    holds no Python operator (no grouped-map task, no Python UDF)."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    plan = dedup.connected_components(edges)._jdf.queryExecution().executedPlan().toString()
    for op in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert op not in plan, plan


def test_connected_components_repeated_edges_label_like_distinct(spark):
    """The up-front probe counts the canonical pairs without ``distinct``:
    repeated edges, in either direction, give the labels of the
    deduplicated edge set, both in the local finish and in the rounds."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)]
    repeated = edges + [(2, 1), (1, 2), (3, 2), (11, 10), (21, 22), (22, 21)]

    def labels(rows, **kw):
        df = spark.createDataFrame(rows, "doc_a long, doc_b long")
        return {r["doc_id"]: r["cluster_id"] for r in
                dedup.connected_components(df, **kw).collect()}

    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    assert labels(edges) == labels(repeated) == want
    # a bound below the repeated count but above the distinct one: the
    # upper bound sends the graph to one round probe, then the local finish
    stats = {}
    assert labels(repeated, local_edges=len(edges), stats=stats) == want
    assert stats["rounds"] == 2
    assert labels(repeated, local_edges=0) == want


def test_connected_components_empty_edges(spark):
    """No edges: the local finish still returns the two bigint columns,
    with no rows."""
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    out = dedup.connected_components(edges)
    assert out.schema.simpleString() == "struct<doc_id:bigint,cluster_id:bigint>"
    assert out.count() == 0


def test_dedup_clusters_build_round_trips(spark, py4j_round_trips):
    """A warm ``dedup_clusters`` build stays under 600 py4j round trips
    (541 today). With per-Column call-site capture on, every Column call
    made ~5 more and this build took 1,112."""
    dedup.dedup_clusters(spark, SF_SMOKE)  # warm: schema memo
    before = py4j_round_trips.n
    dedup.dedup_clusters(spark, SF_SMOKE)
    assert py4j_round_trips.n - before < 600


def test_star_round_is_one_grouping(spark):
    """One star round plans exactly one hash exchange (the grouping by
    node) and no join: both stars come from each node's neighbor set."""
    pairs = spark.createDataFrame([(2, 1), (3, 2), (4, 3)], "u long, v long")
    plan = dedup._star_round(pairs)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert sorted(tuple(r) for r in dedup._star_round(pairs).distinct().collect()) == [
        (2, 1), (3, 1), (3, 2), (4, 2), (4, 3)]


def test_dedup_incremental_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_incremental")


def test_dedup_incremental_split_contract(spark):
    """Every reported match pairs a NEW doc (doc_id % INCR_BATCH_MOD == 0)
    with an INDEXED doc, and is a subset of the full-corpus LSH pairs (the
    incremental path may only find batch-vs-index duplicates, never invent
    or mis-score one)."""
    full = {
        tuple(sorted((r["doc_a"], r["doc_b"]))): r["jaccard"]
        for r in dedup.dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    rows = dedup.dedup_incremental(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["doc_id"] % dedup.INCR_BATCH_MOD == 0
        assert r["dup_of"] % dedup.INCR_BATCH_MOD != 0
        key = tuple(sorted((r["doc_id"], r["dup_of"])))
        # full LSH applies the hot-bucket cap on ALL buckets while the
        # incremental path caps the index side only, so incremental ⊆ full
        # holds whenever the pair survived both paths' capping
        if key in full:
            assert full[key] == r["jaccard"], (r, full[key])


# the in-memory incremental probes; the persisted twins' plans are pinned
# in tests/test_persisted.py
IN_MEMORY_INCREMENTALS = [
    "dedup_incremental", "dedup_substring_incremental",
    "dedup_image_phash_incremental", "dedup_audio_fingerprint_incremental",
    "dedup_video_frames_incremental",
]


@pytest.mark.parametrize("name", IN_MEMORY_INCREMENTALS)
def test_incremental_plan_broadcasts_batch_side(spark, name):
    """The daily-batch probe broadcasts into the index (the index is
    write-once state and must never reshuffle): a broadcast hash join, and
    no sort-merge or shuffled hash join anywhere in the plan."""
    from tf_idf_using_mapreduce_spark.registry import QUERIES

    p = QUERIES[name](spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]


@pytest.mark.parametrize("name, jobs", [
    ("dedup_incremental", 7),
    ("dedup_substring_incremental", 6),
    ("dedup_image_phash_incremental", 4),
    ("dedup_audio_fingerprint_incremental", 7),
    ("dedup_video_frames_incremental", 10),
    ("dedup_incremental_persisted", 7),
    ("dedup_image_phash_incremental_persisted", 4),
])
def test_incremental_probe_job_count(spark, name, jobs):
    """Job-count regression guard for the shared split and broadcast probe
    (``dedup._split_batch`` / ``dedup._probe_index``): build plus collect
    on the smoke corpus, after one warm call that writes the persisted
    index and memoizes the table schemas. The counts are those of the
    per-query probes the helpers replaced."""
    from tf_idf_using_mapreduce_spark.registry import QUERIES

    fn = QUERIES[name]
    fn(spark, SF_SMOKE).collect()
    assert jobs_of(spark, lambda: fn(spark, SF_SMOKE).collect(), f"incr-{name}") == jobs


# --------------------------------------------------------------------------- #
# round-5: cross-source duplication matrix
# --------------------------------------------------------------------------- #

def test_source_dup_matrix_oracle_parity(spark):
    from tests.conftest import assert_query_matches_oracle
    assert_query_matches_oracle(spark, "source_dup_matrix")


def test_source_dup_matrix_is_unordered_and_consistent(spark):
    """Source pairs are unordered (source_a <= source_b) and pair counts sum
    to the number of verified near-dup pairs."""
    from tests.conftest import SF_SMOKE
    from tf_idf_using_mapreduce_spark.operators import dedup as dd

    rows = dd.source_dup_matrix(spark, SF_SMOKE).collect()
    assert rows
    assert all(r["source_a"] <= r["source_b"] for r in rows)
    total = sum(r["n_pairs"] for r in rows)
    assert total == dd.dedup_minhash_lsh(spark, SF_SMOKE).count()


def test_dedup_containment_oracle_parity(spark):
    from tests.conftest import assert_query_matches_oracle
    assert_query_matches_oracle(spark, "dedup_containment")


def test_fp60_prefix_parity_and_distinctness(spark):
    """r16 internals pin for the containment fingerprint narrowing: (a) the
    Spark 60-bit prefix map (conv(substr(md5,1,15),16,10)) and the DuckDB
    lockstep form (('0x'||substr(md5,1,15))::BIGINT) agree EXACTLY,
    including the extreme values (all-f → 2^60−1, all-0 → 0); (b) on the
    smoke fixture the narrowing is collision-free per document, so every
    containment value is provably identical to the md5-string form."""
    import duckdb

    from pyspark.sql import functions as F
    from tf_idf_using_mapreduce_spark.operators.textstats import fingerprint_sets

    probes = [
        "ffffffffffffffffffffffffffffffff",
        "00000000000000000000000000000000",
        "0123456789abcdef0123456789abcdef",
        "fedcba9876543210fedcba9876543210",
        "8000000000000000ffffffffffffffff",
    ]
    sdf = spark.createDataFrame([(p,) for p in probes], "h string").select(
        "h", F.expr("cast(conv(substr(h, 1, 15), 16, 10) as bigint)").alias("fp60")
    )
    got = {r["h"]: r["fp60"] for r in sdf.collect()}
    con = duckdb.connect()
    for p in probes:
        want = con.sql(
            f"SELECT CAST(('0x' || substr('{p}', 1, 15)) AS BIGINT)"
        ).fetchone()[0]
        assert got[p] == want, (p, got[p], want)
    assert got["ffffffffffffffffffffffffffffffff"] == (1 << 60) - 1
    assert got["00000000000000000000000000000000"] == 0
    # per-doc distinctness survives the narrowing on the fixture: sizes of
    # the distinct md5 set and the distinct 60-bit set match for every doc
    fps = fingerprint_sets(spark, SF_SMOKE)
    bad = fps.select(
        F.expr("size(array_distinct(fps))").alias("n_md5"),
        F.expr(
            "size(array_distinct(transform(fps,"
            " f -> cast(conv(substr(f, 1, 15), 16, 10) as bigint))))"
        ).alias("n_60"),
    ).where(F.col("n_md5") != F.col("n_60")).count()
    assert bad == 0


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A short document quoted verbatim inside a much longer one:
    containment ~1.0 (flagged) while symmetric Jaccard is far below the
    0.8 near-dup bar (NOT flagged by the minhash path) — the modality
    this operator exists for."""
    import tempfile
    from tf_idf_using_mapreduce_spark.operators.dedup import (
        dedup_containment,
        dedup_minhash_lsh,
    )

    quote = "the quick brown fox jumps over the lazy dog every single day"
    filler = " ".join(f"filler{chr(97 + i % 26)}{chr(97 + (i // 26) % 26)}" for i in range(300))
    rows = [
        (1, quote),
        (2, filler[: len(filler) // 2] + " " + quote + " " + filler[len(filler) // 2:]),
        (3, "completely unrelated words about other topics entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/documents.parquet")
        contained = {(r["doc_a"], r["doc_b"]): r["containment"]
                     for r in dedup_containment(spark, d).collect()}
        jacc = {(r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, d).collect()}
    assert (1, 2) in contained and contained[(1, 2)] >= 0.9
    assert (1, 2) not in jacc  # symmetric Jaccard structurally misses it
    assert not any(3 in p for p in contained)


def test_dup_id_docs_emit_no_self_pairs(spark):
    """Round-7 advice repro: the same doc_id ingested twice with IDENTICAL
    near-dup-able text. Pair expansion sorts each bucket's member list, so
    without the array_distinct a duplicated id yields (x, x) self-pairs that
    the oracles' a.doc_id < b.doc_id joins structurally never produce —
    Spark returned four (7, 7, 1.0) containment rows on this exact shape.
    Pins: (a) zero self-pairs in both bucketed operators, (b) the genuine
    dup-id ↔ near-dup pair is still FOUND (the fix dedups ids inside the
    bucket, never drops the bucket), (c) dedup_containment — whose oracle
    is dup-id-correct by design (scored-from-the-joined-row comment in the
    SQL) — stays in FULL value parity with DuckDB on this corpus."""
    import tempfile

    import duckdb

    import __spark_entry__ as e
    from tools.canon import canon_rows

    # ~60 mostly-distinct alphabetic words (the tokenizer is [a-z]+), so the
    # one-word tail edit keeps trigram Jaccard ≈ 58/61 >> 0.8
    base = " ".join(
        f"{a}{b}{c}ix"
        for a in "bcdfg" for b in "aeiou" for c in "lmnrs"
    )[: 60 * 6]
    rows = [
        (7, base),
        (7, base),                       # byte-identical duplicate ingest
        (8, base + " extensiontail"),    # the near-dup it must still find
        (1, "completely unrelated words about other topics entirely here"),
        (2, "another independent document with its own vocabulary and tone"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/documents.parquet")
        lsh = dedup.dedup_minhash_lsh(spark, d).collect()
        cont_pdf = dedup.dedup_containment(spark, d).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
        )
        cont_oracle = con.sql(e.oracle_sql()["dedup_containment"]).df()
        lsh_oracle_pairs = {
            (a, b)
            for a, b in con.sql(
                "SELECT DISTINCT doc_a, doc_b FROM (" + e.oracle_sql()["dedup_minhash_lsh"] + ")"
            ).fetchall()
        }
        con.close()

    assert all(r["doc_a"] != r["doc_b"] for r in lsh)
    assert not (cont_pdf["doc_a"] == cont_pdf["doc_b"]).any()
    lsh_pairs = {(r["doc_a"], r["doc_b"]) for r in lsh}
    assert (7, 8) in lsh_pairs
    # minhash's oracle documents multiplicity under dup ids as unspecified
    # (split cnt CTE NOTE) — the PAIR SET must still agree exactly
    assert lsh_pairs == lsh_oracle_pairs
    # containment's oracle is dup-id-exact: full driver-faithful parity
    assert sorted(cont_pdf.columns) == sorted(cont_oracle.columns)
    assert len(cont_pdf) == len(cont_oracle)
    assert canon_rows(cont_pdf) == canon_rows(cont_oracle)
    assert (cont_pdf[["doc_a", "doc_b"]].apply(tuple, axis=1) == (7, 8)).any()


def test_dedup_apply_quality_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_apply_quality")


def test_quality_election_keeps_best_copy_not_first_crawled(spark):
    """A near-dup cluster where the CLEAN copy has the HIGHER doc_id: digit
    noise leaves the token stream (and so the trigram shingles, jaccard
    1.0) untouched but drags the quality classifier's alphabetic-share
    feature down — min-id election (dedup_apply) keeps the mangled first
    crawl, quality election must keep the clean one."""
    import tempfile

    base = " ".join(
        f"{a}{b}ole" for a in "bcdfglmnpr" for b in "aeiou"
    )  # 50 distinct words, clean alphabetic text
    noisy = base + " 0123456789" * 20  # same [a-z]+ tokens, low alpha share
    rows = [(1, noisy), (2, base), (3, "unrelated other words entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/documents.parquet")
        blind = {r["doc_id"] for r in dedup.dedup_apply(spark, d).collect()}
        quality = {r["doc_id"] for r in dedup.dedup_apply_quality(spark, d).collect()}
    assert blind == {1, 3}      # min-id keeps the mangled first crawl
    assert quality == {2, 3}    # quality election keeps the clean copy


def test_dedup_apply_quality_keeps_null_doc_id_rows_on_both_engines(spark):
    """A NULL-doc_id document (in-contract dirty data: NULL text docs and
    NULL ids flow through the whole dedup tier) can never be a cluster
    member, so it must SURVIVE quality-aware dedup on BOTH engines. The
    oracle's final filter must therefore be the NULL-safe
    `LEFT JOIN losers ... IS NULL` pattern, not `NOT IN (losers)` —
    NOT IN over a non-empty losers set evaluates NULL for a NULL
    doc_id and silently drops the row only on the DuckDB side."""
    import tempfile

    import duckdb

    import __spark_entry__ as e
    from tools.canon import canon_rows

    base = " ".join(f"{a}{b}ole" for a in "bcdfglmnpr" for b in "aeiou")
    noisy = base + " 0123456789" * 20
    rows = [(1, noisy), (2, base), (None, "floating row with no identity")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/documents.parquet")
        spdf = dedup.dedup_apply_quality(spark, d).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
        )
        ddf = con.sql(e.oracle_sql()["dedup_apply_quality"]).df()
        con.close()
    # losers is non-empty (1 loses to 2), and the NULL-id row survives
    kept = set(spdf["doc_id"].dropna().astype(int))
    assert kept == {2}
    assert spdf["doc_id"].isna().sum() == 1
    assert canon_rows(spdf) == canon_rows(ddf)


# --------------------------------------------------------------------------- #
# cross-document repeated-substring dedup (ExactSubstr) — round 10
# --------------------------------------------------------------------------- #

def test_dedup_substring_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_substring")


def _az(n: int) -> str:
    """Deterministic 3-letter [a-z]+ encoding (tokenizer-safe: no digits)."""
    return chr(97 + n // 676) + chr(97 + (n // 26) % 26) + chr(97 + n % 26)


LICENSE = ("permission is hereby granted free of charge to any person "
           "obtaining a copy of this software and associated documentation "
           "files").split()  # 21 tokens — above SUBSTR_MIN_SPAN


def test_dedup_substring_finds_injected_boilerplate(spark):
    """The defining ExactSubstr scenario: the SAME license paragraph pasted
    into 50 otherwise-unrelated documents. Every pair must surface a span of
    exactly the paragraph's length at the exact injection offsets — while
    doc-level trigram Jaccard stays far below the near-dup bar (the modality
    doc-level dedup structurally misses). Also cross-checks the DuckDB
    oracle on the injected corpus, not just the driver fixtures."""
    import tempfile

    import duckdb

    import __spark_entry__ as e
    from tools.canon import canon_rows

    n_docs, fill = 50, 120
    rows, offsets = [], {}
    for d in range(n_docs):
        filler = [f"f{_az(d)}q{_az(i)}" for i in range(fill)]
        off = 5 + (d % 7)
        offsets[d] = off
        toks = filler[:off] + LICENSE + filler[off:]
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        spans = dedup.dedup_substring(spark, tmp).toPandas()
        jac = dedup.dedup_ngram_jaccard(spark, tmp).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        ora = con.sql(e.oracle_sql()["dedup_substring"]).df()
        con.close()
    # every pair found, one maximal span each, exactly the license length
    assert len(spans) == n_docs * (n_docs - 1) // 2
    assert set(spans["span_len"]) == {len(LICENSE)}
    got = {(r.doc_a, r.doc_b): (r.pos_a, r.pos_b) for r in spans.itertuples()}
    for (a, b), (pa_, pb_) in got.items():
        assert (pa_, pb_) == (offsets[a], offsets[b])
    # doc-level near-dup machinery does NOT see these pairs
    assert len(jac) == 0
    # engine == oracle on the injected corpus
    assert canon_rows(spans) == canon_rows(ora)


def test_dedup_substring_hot_fingerprint_cap_mirrored(spark):
    """Boilerplate shared by MORE documents than SUBSTR_FP_CAP is amputated
    before pair expansion — candidate mass Σ min(bucket, cap)², never
    all-pairs — and the oracle mirrors the cap, so both engines agree on the
    capped (here: empty) output."""
    import tempfile

    import duckdb

    import __spark_entry__ as e
    from tools.canon import canon_rows

    n_docs = dedup.SUBSTR_FP_CAP + 11
    rows = []
    for d in range(n_docs):
        filler = [f"f{_az(d)}q{_az(i)}" for i in range(40)]
        rows.append((d, " ".join(filler[:4] + LICENSE + filler[4:])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        spans = dedup.dedup_substring(spark, tmp).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        ora = con.sql(e.oracle_sql()["dedup_substring"]).df()
        con.close()
    assert len(spans) == 0
    assert canon_rows(spans) == canon_rows(ora)


def test_dedup_substring_hot_window_splits_span_into_subspans(spark):
    """The documented SUBSTR_FP_CAP trade-off, pinned the way the LSH cap is
    pinned (r10 verdict #6): a long span shared by TWO docs whose middle
    8-token window is ALSO boilerplate in > cap other docs loses exactly
    that one matched position — the gaps-and-islands merge must report the
    two flanking sub-spans (not the full span, not nothing), and the DuckDB
    oracle must agree on the identical split."""
    import tempfile

    import duckdb

    import __spark_entry__ as e
    from tools.canon import canon_rows

    w = dedup.SUBSTR_W  # 8
    span = [f"s{_az(i)}" for i in range(40)]      # 40-token shared span
    hot = span[16:16 + w]                         # its middle window
    rows = [
        # doc 0: 8 unique prefix tokens + span  (span starts at pos 8)
        (0, " ".join([f"p{_az(i)}" for i in range(8)] + span)),
        # doc 1: span + 8 unique suffix tokens  (span starts at pos 0)
        (1, " ".join(span + [f"u{_az(i)}" for i in range(8)])),
    ]
    # > cap docs carrying ONLY the hot window (plus per-doc-unique filler):
    # fp(hot) occurs cap+9 + 2 times -> amputated before pair expansion
    for d in range(dedup.SUBSTR_FP_CAP + 9):
        filler = [f"f{_az(d)}q{_az(i)}" for i in range(8)]
        rows.append((10 + d, " ".join(filler[:4] + hot + filler[4:])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        spans = dedup.dedup_substring(spark, tmp).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        ora = con.sql(e.oracle_sql()["dedup_substring"]).df()
        con.close()
    # matched diagonals lose position 16 only: runs 0..15 and 17..32 of the
    # 33 window positions -> two sub-spans of 15 + w = 23 tokens each
    got = sorted(
        (r.doc_a, r.doc_b, r.pos_a, r.pos_b, r.span_len)
        for r in spans.itertuples()
    )
    assert got == [(0, 1, 8, 0, 23), (0, 1, 25, 17, 23)]
    assert canon_rows(spans) == canon_rows(ora)


def test_dedup_substring_dup_doc_rows_no_self_pairs(spark):
    """Duplicate doc_id ROWS (legal dirty data, pinned corpus-wide by the
    fuzz suite) must not produce (x, x) self-pairs or double-counted spans:
    the expansion array_distincts (doc_id, pos) entries and requires
    doc_b > doc_a strictly."""
    import tempfile

    text = " ".join(LICENSE + [f"f{_az(99)}q{_az(i)}" for i in range(30)])
    other = " ".join([f"f{_az(7)}q{_az(i)}" for i in range(10)] + LICENSE)
    rows = [(1, text), (1, text), (2, other)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        spans = dedup.dedup_substring(spark, tmp).toPandas()
    assert set(zip(spans["doc_a"], spans["doc_b"])) == {(1, 2)}
    assert len(spans) == 1 and spans["span_len"].iloc[0] == len(LICENSE)


def test_dedup_substring_apply_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_substring_apply")


def test_dedup_substring_apply_keeps_one_occurrence(spark):
    """Apply semantics on the 50-doc license corpus: doc 0 (the smallest id)
    keeps the paragraph, every other doc loses exactly its |LICENSE| tokens
    and nothing else — and a RE-RUN of dedup_substring on the cleaned corpus
    finds nothing (the fixpoint property: one occurrence left ⇒ no
    cross-document repeats)."""
    import tempfile

    n_docs, fill = 50, 120
    rows = []
    for d in range(n_docs):
        filler = [f"f{_az(d)}q{_az(i)}" for i in range(fill)]
        off = 5 + (d % 7)
        rows.append((d, " ".join(filler[:off] + LICENSE + filler[off:])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        out = dedup.dedup_substring_apply(spark, tmp).toPandas()
        out = out.set_index("doc_id").sort_index()
        assert int(out.loc[0, "n_removed"]) == 0
        assert (out.drop(index=0)["n_removed"] == len(LICENSE)).all()
        assert (out["n_tokens"] == fill + len(LICENSE)).all()
        # cleaned doc 0 still contains the license tokens; others don't
        assert " ".join(LICENSE) in out.loc[0, "clean_text"]
        assert not out.drop(index=0)["clean_text"].str.contains(LICENSE[0]).any()
        # fixpoint: re-run span detection over the cleaned corpus
        clean = spark.createDataFrame(
            [(int(i), r.clean_text) for i, r in out.iterrows()],
            "doc_id long, text string",
        )
        with tempfile.TemporaryDirectory() as tmp2:
            clean.coalesce(1).write.parquet(f"{tmp2}/documents.parquet")
            assert dedup.dedup_substring(spark, tmp2).count() == 0


def test_dedup_substring_apply_conserves_tokens(spark):
    """Cross-check on the driver fixture: n_tokens - n_removed equals the
    cleaned stream's token count for every doc, and removal only ever
    happens on docs that appear as doc_b in the span table."""
    spans = dedup.dedup_substring(spark, SF_SMOKE).toPandas()
    out = dedup.dedup_substring_apply(spark, SF_SMOKE).toPandas()
    out = out[out["n_tokens"].notna()]
    n_clean = out["clean_text"].map(lambda s: len(s.split()) if s else 0)
    assert ((out["n_tokens"] - out["n_removed"]) == n_clean).all()
    removed_docs = set(out.loc[out["n_removed"] > 0, "doc_id"])
    assert removed_docs <= set(spans["doc_b"])
    assert len(removed_docs) > 0, "driver fixture has spans to excise"


def test_boilerplate_census_surfaces_what_the_cap_drops(spark):
    """The observability contract: windows hot enough for dedup_substring's
    cap to amputate (> SUBSTR_FP_CAP occurrences) must surface IN the
    census, ranked first, with their text — no silent caps."""
    import tempfile

    n_docs = dedup.SUBSTR_FP_CAP + 11
    rows = []
    for d in range(n_docs):
        filler = [f"f{_az(d)}q{_az(i)}" for i in range(40)]
        rows.append((d, " ".join(filler[:4] + LICENSE + filler[4:])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        # the span table is empty (cap) ...
        assert dedup.dedup_substring(spark, tmp).count() == 0
        # ... but the census reports the license windows at full strength
        top = dedup.substring_boilerplate_census(spark, tmp).toPandas()
    assert (top["n_docs"] == n_docs).all()
    assert len(top) == len(LICENSE) - dedup.SUBSTR_W + 1
    assert all(w in " ".join(LICENSE) for w in top["span_text"])


def test_dedup_substring_plan_shape(spark):
    """Scale-posture plan asserts: the hot-fingerprint drop is a BROADCAST
    anti-join (never a second full shuffle of the entry rows), and the span
    merge never degenerates to a cartesian/nested-loop pair stage."""
    p = dedup.dedup_substring(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin .*LeftAnti", p), p[:3000]
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_dedup_substring_apply_plan_broadcasts_span_table(spark):
    """The apply step's contract at 100 TB: the corpus is read ONCE and
    never shuffled — the (output-sized) span table broadcasts into it; no
    sort-merge/shuffled-hash join may appear on the corpus path."""
    p = dedup.dedup_substring_apply(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin .*LeftOuter", p), p[:3000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]


def test_dedup_substring_incremental_split_contract(spark):
    """Every reported span pairs a NEW doc (id % 5 == 0) with an INDEXED doc
    (id % 5 != 0) — never batch-internal, never index-internal."""
    rows = dedup.dedup_substring_incremental(spark, SF_SMOKE).collect()
    assert rows, "driver fixture should have cross-split spans"
    assert all(r["doc_id"] % dedup.INCR_BATCH_MOD == 0 for r in rows)
    assert all(r["dup_of"] % dedup.INCR_BATCH_MOD != 0 for r in rows)
    # span geometry invariants
    assert all(r["span_len"] >= dedup.SUBSTR_MIN_SPAN for r in rows)


def test_dedup_substring_incremental_finds_cross_split_boilerplate(spark):
    """License pasted into 10 docs: the two batch docs (ids 0, 5) each match
    all eight indexed docs at the exact offsets and the full paragraph
    length; index-index and batch-batch occurrences are not reported."""
    import tempfile

    rows_in, offsets = [], {}
    for d in range(10):
        filler = [f"f{_az(d)}q{_az(i)}" for i in range(80)]
        off = 3 + (d % 5)
        offsets[d] = off
        rows_in.append((d, " ".join(filler[:off] + LICENSE + filler[off:])))
    df = spark.createDataFrame(rows_in, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        got = dedup.dedup_substring_incremental(spark, tmp).toPandas()
    new_ids = {0, 5}
    idx_ids = {1, 2, 3, 4, 6, 7, 8, 9}
    assert set(zip(got["doc_id"], got["dup_of"])) == {
        (n, i) for n in new_ids for i in idx_ids
    }
    assert (got["span_len"] == len(LICENSE)).all()
    for r in got.itertuples():
        assert (r.pos_new, r.pos_idx) == (offsets[r.doc_id], offsets[r.dup_of])


# --------------------------------------------------------------------------- #
# round-11: bloom-pruned incremental exact dedup
# --------------------------------------------------------------------------- #

def test_dedup_incremental_bloom_oracle_parity(spark):
    assert_query_matches_oracle(spark, "dedup_incremental_bloom")


def test_dedup_incremental_bloom_finds_injected_cross_batch_dups(spark):
    """Exact copies injected across the batch boundary are matched to the
    EARLIEST index copy; novel batch docs report dup_of NULL; batch-internal
    copies (both doc_ids % INCR_BATCH_MOD == 0) are NOT matched — the
    operator probes the index only, like dedup_incremental. Also
    cross-checks the DuckDB oracle on the injected corpus."""
    import tempfile

    import duckdb

    import __spark_entry__ as e
    from tools.canon import canon_rows

    mod = dedup.INCR_BATCH_MOD
    rows = []
    # index docs: ids 1..9 skipping multiples of mod
    for d in range(1, 10):
        if d % mod == 0:
            continue
        rows.append((d, f"index doc {_az(d)} " + " ".join(_az(i) for i in range(30))))
    text_of = dict(rows)
    # a second INDEX copy of doc 2's text with a higher id: min() must win
    rows = [(d, text_of[2] if d == 8 else t) for d, t in rows]
    rows.append((10, text_of[2]))          # batch dup of index docs 2 and 8
    rows.append((15, text_of[2]))          # second batch copy of the same text
    rows.append((20, "novel batch doc " + " ".join(_az(i) for i in range(25))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        got = dedup.dedup_incremental_bloom(spark, tmp).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        ora = con.sql(e.oracle_sql()["dedup_incremental_bloom"]).df()
        con.close()
    by_id = {int(r.doc_id): r for r in got.itertuples()}
    assert set(by_id) == {10, 15, 20}          # one row per batch doc
    assert by_id[10].dup_of == 2 and bool(by_id[10].is_dup)
    assert by_id[15].dup_of == 2 and bool(by_id[15].is_dup)
    import pandas as pd
    assert pd.isna(by_id[20].dup_of) and not bool(by_id[20].is_dup)
    assert canon_rows(got) == canon_rows(ora)


def test_dedup_incremental_bloom_plan_broadcasts_filter(spark):
    """The index side (the 100 TB side) never reshuffles and never
    broadcasts whole: the bloom probes are broadcast LeftSemi joins into
    the batch scan, the confirm join broadcasts the PRUNED BATCH into the
    index, and no SortMergeJoin/ShuffledHashJoin appears anywhere."""
    p = (dedup.dedup_incremental_bloom(spark, SF_SMOKE)
         ._jdf.queryExecution().executedPlan().toString())
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert p.count("LeftSemi") >= dedup.BLOOM_HASHES, p[:3000]
    # the only Inner broadcast join must build the pruned-batch side: its
    # build subtree carries the LeftSemi probes, so an index-side build
    # (no LeftSemi below the BroadcastExchange) would fail this scan
    import re
    inner = [m.start() for m in re.finditer(r"BroadcastHashJoin \[h#\d+\], \[h#\d+\], Inner", p)]
    assert len(inner) == 1, p[:3000]


def test_dedup_incremental_bloom_filter_never_drops_a_match(spark):
    """No false negatives: the bloom-pruned result equals the UNFILTERED
    batch-vs-index exact probe on the smoke fixture (the filter may only
    remove rows the confirm join would reject anyway)."""
    from pyspark.sql import functions as F

    from tf_idf_using_mapreduce_spark.sources.corpus import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", F.md5("text").alias("h"))
    is_new = F.col("doc_id") % dedup.INCR_BATCH_MOD == 0
    plain = (
        docs.where(is_new).select("doc_id", "h")
        .join(docs.where(~is_new).select(F.col("doc_id").alias("dup_of"), "h"), "h")
        .groupBy("doc_id").agg(F.min("dup_of").alias("dup_of"))
    )
    plain_rows = {(r["doc_id"], r["dup_of"]) for r in plain.collect()}
    got = dedup.dedup_incremental_bloom(spark, SF_SMOKE).collect()
    got_rows = {(r["doc_id"], r["dup_of"]) for r in got if r["is_dup"]}
    assert got_rows == plain_rows
    # and the report covers the whole batch
    assert len(got) == docs.where(is_new).count()
