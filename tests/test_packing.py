"""Sequence packing / chunking: oracle parity, conservation laws, and the
distributed-prefix-sum plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, assert_query_matches_oracle
from tf_idf_using_mapreduce_spark.functions import text
from tf_idf_using_mapreduce_spark.operators import packing as pk
from tf_idf_using_mapreduce_spark.sources.corpus import load_table


@pytest.mark.parametrize("name", ["doc_chunks", "pack_sequences"])
def test_oracle_parity(spark, name):
    assert_query_matches_oracle(spark, name)


def test_chunks_conserve_tokens(spark):
    """Every token lands in exactly one chunk; every chunk except a doc's
    last is exactly CHUNK_LEN tokens."""
    total = (
        load_table(spark, SF_SMOKE, "documents")
        .select(F.expr(f"size({text.TOKENS})").alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    chunks = pk.doc_chunks(spark, SF_SMOKE)
    assert chunks.agg(F.sum("n_tokens")).collect()[0][0] == total
    last = chunks.groupBy("doc_id").agg(F.max("chunk_idx").alias("last"))
    non_last = chunks.join(last, "doc_id").where(F.col("chunk_idx") < F.col("last"))
    assert non_last.where(F.col("n_tokens") != pk.CHUNK_LEN).count() == 0


def test_pack_conserves_and_fills(spark):
    """Packing conserves the token stream, and every sequence except the
    final one holds exactly MAX_SEQ tokens (the concatenate-then-split
    contract)."""
    total = (
        load_table(spark, SF_SMOKE, "documents")
        .select(F.expr(f"size({text.TOKENS})").alias("n"))
        .agg(F.sum("n")).collect()[0][0]
    )
    rows = pk.pack_sequences(spark, SF_SMOKE).orderBy("seq_id").collect()
    assert sum(r["n_tokens"] for r in rows) == total
    assert [r["seq_id"] for r in rows] == list(range(len(rows)))  # dense ids
    for r in rows[:-1]:
        assert r["n_tokens"] == pk.MAX_SEQ, r
    assert 0 < rows[-1]["n_tokens"] <= pk.MAX_SEQ


def test_prefix_sum_is_distributed_not_single_task(spark):
    """The pack plan must range-partition the prefix sum (two-phase form),
    never a bare global-order Window over the full document table."""
    plan = pk.pack_sequences(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(doc_id" in plan, plan[:3000]


def test_prefix_partition_count_scales_with_input_bytes():
    """The prefix-sum partition count is derived from input size: fixed
    per-task byte budget, so the count grows linearly past the parallelism
    floor — the round-4 fixed default of 8 partitions would put corpus/8
    rows in one task at scale."""
    par = 32
    floor = pk._derive_prefix_partitions(1024, par)
    assert floor == par  # tiny input: parallelism floor
    one_gb = pk._derive_prefix_partitions(1 << 30, par)
    assert one_gb == (1 << 30 + 0) // pk.PACK_BYTES_PER_PARTITION
    hundred_tb = pk._derive_prefix_partitions(100 * (1 << 40), par)
    assert hundred_tb == 100 * (1 << 40) // pk.PACK_BYTES_PER_PARTITION
    assert hundred_tb > one_gb > floor  # monotone in bytes
    assert pk._derive_prefix_partitions(0, par) == par


def test_prefix_partitions_real_corpus_uses_footer_estimate(spark):
    """On the fixture corpus the derived count hits the parallelism floor
    (input ≪ per-task budget) — and never the old hard-coded 8."""
    docs = load_table(spark, SF_SMOKE, "documents")
    n = pk._prefix_partitions(docs)
    assert n == spark.sparkContext.defaultParallelism


def test_pretraining_shards_oracle_parity(spark):
    assert_query_matches_oracle(spark, "pretraining_shards")


def test_pretraining_shards_composition(spark):
    """The composed pipeline's output is a packed version of exactly the
    docs that survive curation + exact-dedup + mixture: fewer tokens than
    the raw corpus pack, dense seq_ids, all non-final sequences full."""
    from tf_idf_using_mapreduce_spark.operators.pretrain import pretraining_shards

    rows = pretraining_shards(spark, SF_SMOKE).orderBy("seq_id").collect()
    assert rows
    assert [r["seq_id"] for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r["n_tokens"] == pk.MAX_SEQ, r
    raw_total = sum(r["n_tokens"] for r in pk.pack_sequences(spark, SF_SMOKE).collect())
    cur_total = sum(r["n_tokens"] for r in rows)
    assert 0 < cur_total < raw_total  # curation/dedup/mixture dropped something


def test_pretraining_shards_plan_uses_distributed_prefix_sum(spark):
    from tf_idf_using_mapreduce_spark.operators.pretrain import pretraining_shards

    plan = pretraining_shards(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(doc_id" in plan, plan[:3000]


# --------------------------------------------------------------------------- #
# round-5: deterministic global training shuffle
# --------------------------------------------------------------------------- #

def test_corpus_shuffle_oracle_parity(spark):
    from tests.conftest import assert_query_matches_oracle
    assert_query_matches_oracle(spark, "corpus_shuffle")


def test_corpus_shuffle_is_partitioning_invariant(spark):
    """The permutation must be identical no matter how the input is laid
    out — the property df.orderBy(rand()) does NOT have."""
    docs = spark.range(500).withColumnRenamed("id", "doc_id")
    a = sorted(map(tuple, pk.corpus_shuffle_df(docs).collect()))
    b = sorted(map(tuple, pk.corpus_shuffle_df(docs.repartition(13)).collect()))
    assert a == b


def test_corpus_shuffle_positions_are_dense_per_shard(spark):
    """Within every shard, pos must be exactly 0..count-1 (a readable
    training stream), and a different seed must give a different order."""
    docs = spark.range(400).withColumnRenamed("id", "doc_id")
    out = pk.corpus_shuffle_df(docs).collect()
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert all(0 <= s < pk.SHUFFLE_SHARDS for s in by_shard)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    other = pk.corpus_shuffle_df(docs, seed="epoch1").collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in out} != {
        (r["doc_id"], r["shard"], r["pos"]) for r in other
    }


def test_corpus_shuffle_plan_has_single_exchange(spark):
    p = (pk.corpus_shuffle(spark, SF_SMOKE)
         ._jdf.queryExecution().executedPlan().toString())
    assert p.count("Exchange hashpartitioning") == 1, p[:2000]
    assert "Exchange SinglePartition" not in p, p[:2000]


# --------------------------------------------------------------------------- #
# round-5: length-bucketed batching
# --------------------------------------------------------------------------- #

def test_length_bucket_batches_oracle_parity(spark):
    from tests.conftest import assert_query_matches_oracle
    assert_query_matches_oracle(spark, "length_bucket_batches")


def test_length_bucket_batches_invariants(spark):
    """Every batch holds <= BATCH_DOCS docs, padding is non-negative and
    bounded by (BUCKET_WIDTH - 1) per doc, every non-empty doc lands in
    exactly one batch, and batch indices are dense per (bucket, shard)."""
    from tf_idf_using_mapreduce_spark.sources.corpus import load_table

    rows = pk.length_bucket_batches(spark, SF_SMOKE).collect()
    assert rows
    n_docs_total = sum(r["n_docs"] for r in rows)
    nonempty = (
        load_table(spark, SF_SMOKE, "documents")
        .where(F.expr("size(regexp_extract_all(lower(text), '([a-z]+)', 1)) > 0"))
        .count()
    )
    assert n_docs_total == nonempty
    by_bs: dict = {}
    for r in rows:
        assert 1 <= r["n_docs"] <= pk.BATCH_DOCS
        assert 0 <= r["pad_waste_tokens"] <= (pk.BUCKET_WIDTH - 1) * r["n_docs"]
        assert r["padded_tokens"] == r["max_tokens"] * r["n_docs"]
        by_bs.setdefault((r["bucket_id"], r["shard"]), []).append(r["batch_idx"])
    for idxs in by_bs.values():
        assert sorted(idxs) == list(range(len(idxs)))


def test_corpus_shuffle_is_a_bijection(spark):
    """Every doc appears exactly once in the permutation — no drops, no
    duplicates (the property a training reader silently depends on)."""
    docs = spark.range(777).withColumnRenamed("id", "doc_id")
    out = pk.corpus_shuffle_df(docs).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(777))
    assert len({(r["shard"], r["pos"]) for r in out}) == 777


# --------------------------------------------------------------------------- #
# round-6: size-derived shard counts for the rank-window operators
# --------------------------------------------------------------------------- #

def test_shard_count_law_scales_with_input_bytes():
    """The shard count behind corpus_shuffle / length_bucket_batches is the
    pinned floor at fixture scale (committed oracles stay stable) and grows
    linearly with input bytes past it — a fixed 32 (or 4) would put
    corpus/32 rows through ONE rank-window task at 100×."""
    assert pk._derive_shard_count(0, pk.SHUFFLE_SHARDS) == pk.SHUFFLE_SHARDS
    assert pk._derive_shard_count(1024, pk.SHUFFLE_SHARDS) == pk.SHUFFLE_SHARDS
    one_gb = pk._derive_shard_count(1 << 30, pk.BATCH_SHARDS)
    assert one_gb == (1 << 30) // pk.SHARD_BYTES_PER_SHARD
    hundred_tb = pk._derive_shard_count(100 * (1 << 40), pk.BATCH_SHARDS)
    assert hundred_tb == 100 * (1 << 40) // pk.SHARD_BYTES_PER_SHARD
    assert hundred_tb > one_gb > pk.BATCH_SHARDS  # monotone in bytes


def test_shard_count_fixture_matches_pinned_constants(spark):
    """At fixture scale the derived counts equal the pinned constants the
    oracles bake in — the law changes nothing at small SF, only at 100×."""
    docs = load_table(spark, SF_SMOKE, "documents")
    assert pk._derive_shard_count(pk._input_bytes(docs), pk.SHUFFLE_SHARDS) == pk.SHUFFLE_SHARDS
    assert pk._derive_shard_count(pk._input_bytes(docs), pk.BATCH_SHARDS) == pk.BATCH_SHARDS


def test_shard_count_recorded_in_output_contract(spark):
    """Both rank-window operators RECORD the (semantic) shard count they
    used, and an explicit override flows through to shard assignment."""
    docs = spark.range(300).withColumnRenamed("id", "doc_id")
    out = pk.corpus_shuffle_df(docs).collect()
    assert all(r["n_shards"] == pk.SHUFFLE_SHARDS for r in out)
    wide = pk.corpus_shuffle_df(docs, n_shards=64).collect()
    assert all(r["n_shards"] == 64 for r in wide)
    assert {r["shard"] for r in wide} - set(range(64)) == set()
    assert any(r["shard"] >= pk.SHUFFLE_SHARDS for r in wide)  # really 64 buckets

    texts = spark.createDataFrame(
        [(i, "word " * (i % 200 + 1)) for i in range(300)], "doc_id long, text string"
    )
    b = pk.length_bucket_batches_df(texts, n_shards=8).collect()
    assert all(r["n_shards"] == 8 for r in b)
    assert {r["shard"] for r in b} <= set(range(8))


def test_pretraining_manifest_threads_n_shards(spark):
    """An explicit shard count flows through the composed manifest and is
    recorded in its output."""
    from tf_idf_using_mapreduce_spark.operators.pretrain import pretraining_manifest

    rows = pretraining_manifest(spark, SF_SMOKE, n_shards=7).collect()
    assert rows and all(r["n_shards"] == 7 for r in rows)
    assert all(0 <= r["shard"] < 7 for r in rows)


def test_pretraining_manifest_conserves_survivors(spark):
    """The manifest's doc total must equal the pipeline's survivor count
    (cascade ∧ classifier ∧ dedup-election ∧ mixture), and every shard id
    must be in range."""
    from tf_idf_using_mapreduce_spark.operators.pretrain import pretraining_manifest

    rows = pretraining_manifest(spark, SF_SMOKE).collect()
    assert rows and all(0 <= r["shard"] < pk.SHUFFLE_SHARDS for r in rows)
    assert len({r["shard"] for r in rows}) == len(rows)
    total = sum(r["n_docs"] for r in rows)
    assert 0 < total < 500  # strictly between empty and everything


def test_pinned_oracle_guard_fails_loud_when_fixture_outgrows_floor(spark):
    """Round-7 advice: the registry entries pin their shard floor in
    committed oracle SQL, so a verification fixture that grows past the
    size-law threshold must fail with an EXPLICIT re-pin message — not a
    confusing full-output hash mismatch (every shard/pos value changes
    when the derived count moves). The guard passes through exactly the
    floor at fixture scale (checked green for the three registry entries
    above) and raises once derivation exceeds it."""
    import pytest as _pytest

    docs = load_table(spark, SF_SMOKE, "documents")
    assert pk._shard_count_for_pinned_oracle(docs, pk.SHUFFLE_SHARDS, "x") == pk.SHUFFLE_SHARDS
    assert pk._shard_count_for_pinned_oracle(docs, pk.BATCH_SHARDS, "x") == pk.BATCH_SHARDS
    # simulate the grown fixture by shrinking the floor below the derived
    # count: _derive_shard_count(bytes, floor=1) > 1 whenever bytes exceed
    # one shard's budget — force it with a tiny bytes_per_shard via the
    # pure law, then assert the guard's message names the remedy
    big = pk._derive_shard_count(100 * (1 << 30), pk.SHUFFLE_SHARDS)
    assert big > pk.SHUFFLE_SHARDS
    import unittest.mock as mock

    with mock.patch.object(pk, "_input_bytes", return_value=100 * (1 << 30)):
        with _pytest.raises(ValueError, match="Re-pin the oracle"):
            pk._shard_count_for_pinned_oracle(docs, pk.SHUFFLE_SHARDS, "corpus_shuffle")


# --------------------------------------------------------------------------- #
# round-11: intra-document chunk dedup (apply step)
# --------------------------------------------------------------------------- #

def test_doc_chunk_dedup_oracle_parity(spark):
    assert_query_matches_oracle(spark, "doc_chunk_dedup")


def test_doc_chunk_dedup_removes_repeated_chunk_keeps_first(spark):
    """A document whose token stream repeats the same CHUNK_LEN-token block
    three times keeps exactly ONE copy at its first position; a document
    with all-distinct chunks is untouched; an empty document survives with
    empty clean_text (apply semantics: every doc has an output row)."""
    import tempfile

    k = pk.CHUNK_LEN
    block = [f"rep{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(k)]
    tailc = [f"tail{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(k)]
    uniq = [f"uni{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(2 * k)]
    rows = [
        (0, " ".join(block + block + block + tailc)),  # 4 chunks, 2 dropped
        (1, " ".join(uniq)),                           # 2 chunks, none dropped
        (2, ""),                                       # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        got = {r["doc_id"]: r for r in pk.doc_chunk_dedup(spark, tmp).collect()}
    assert got[0]["n_chunks"] == 4 and got[0]["n_dropped"] == 2
    assert got[0]["clean_text"] == " ".join(block + tailc)
    assert got[1]["n_chunks"] == 2 and got[1]["n_dropped"] == 0
    assert got[1]["clean_text"] == " ".join(uniq)
    assert got[2]["n_chunks"] == 0 and got[2]["n_dropped"] == 0
    assert got[2]["clean_text"] == ""


def test_doc_chunk_dedup_plan_is_map_only(spark):
    """Apply semantics at any scale: per-document array math, no Exchange
    anywhere in the plan."""
    p = (pk.doc_chunk_dedup(spark, SF_SMOKE)
         ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in p, p[:2000]


# --------------------------------------------------------------------------- #
# round-11: z-order layout
# --------------------------------------------------------------------------- #

def test_zorder_layout_oracle_parity(spark):
    assert_query_matches_oracle(spark, "zorder_layout")


def test_zorder_interleave_matches_python_reference(spark):
    """The Morton expression equals a bit-twiddling Python reference on a
    grid of sample coordinates, on BOTH dialects."""
    import duckdb

    def ref(x, y, bits=pk.ZORDER_GRID_BITS):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(x, y) for x in (0, 1, 5, 170, 255) for y in (0, 2, 85, 255)]
    sdf = spark.createDataFrame(pts, "gx int, gy int")
    zs = pk._interleave_expr("gx", "gy", pk.ZORDER_GRID_BITS, spark_side=True)
    got_s = {(r["gx"], r["gy"]): r["z"]
             for r in sdf.selectExpr("gx", "gy", f"{zs} as z").collect()}
    zd = pk._interleave_expr("gx", "gy", pk.ZORDER_GRID_BITS, spark_side=False)
    con = duckdb.connect()
    vals = ", ".join(f"({x}, {y})" for x, y in pts)
    got_d = {(x, y): z for x, y, z in con.sql(
        f"SELECT gx, gy, {zd} AS z FROM (VALUES {vals}) t(gx, gy)").fetchall()}
    con.close()
    for p_ in pts:
        assert got_s[p_] == ref(*p_) == got_d[p_], p_


def test_zorder_buckets_bound_both_dimensions(spark):
    """The layout claim itself: every z-bucket's footer rectangle spans a
    BOUNDED fraction of BOTH key domains — with 64 buckets (3 z-levels per
    axis) each side spans <= 1/4 of its domain plus one grid cell — so a
    point predicate on either key prunes >= ~3/4 of the would-be files.
    A single-key linear layout bounds one dimension and leaves the other
    at 100% — asserted as the contrast."""
    rows = pk.zorder_layout(spark, SF_SMOKE).collect()
    assert rows and sum(r["n"] for r in rows) == \
        load_table(spark, SF_SMOKE, "lineitem").count()
    li = load_table(spark, SF_SMOKE, "lineitem")
    pk_max, sk_max = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    # one 256-grid cell in original units (domain mapped onto 256 slots)
    cell_pk = (pk_max + 1) / 256.0
    cell_sk = (sk_max + 1) / 256.0
    for r in rows:
        assert r["pk_max"] - r["pk_min"] <= (pk_max + 1) / 4.0 + cell_pk, r
        assert r["sk_max"] - r["sk_min"] <= (sk_max + 1) / 4.0 + cell_sk, r
    # the contrast: bucketing BY ONE KEY leaves the other dimension's span
    # at (essentially) the full domain
    by_pk = (
        li.select(F.expr(f"cast(l_partkey * 64.0 / ({pk_max} + 1) as int)").alias("b"),
                  "l_suppkey")
        .groupBy("b").agg((F.max("l_suppkey") - F.min("l_suppkey")).alias("span"))
        .agg(F.max("span")).first()[0]
    )
    assert by_pk >= sk_max * 0.9


def test_zorder_write_skips_files_on_both_keys(spark, tmp_path):
    """The data-skipping claim MEASURED on real parquet footers: write
    lineitem z-clustered on (l_partkey, l_suppkey), read every output
    file's min/max stats with pyarrow, and count the files a point
    predicate on EACH key would have to touch. Both keys must prune to a
    bounded fraction; the contrast layout (range-partitioned by partkey
    alone) prunes partkey but leaves suppkey predicates reading EVERY
    file."""
    import glob

    import pyarrow.parquet as pq

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_partkey", "l_suppkey")
    pk_max, sk_max = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()

    def footer_spans(d):
        spans = []
        for f in sorted(glob.glob(f"{d}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
            lo = {c: min(md.row_group(g).column(cols[c]).statistics.min
                         for g in range(md.num_row_groups)) for c in cols}
            hi = {c: max(md.row_group(g).column(cols[c]).statistics.max
                         for g in range(md.num_row_groups)) for c in cols}
            spans.append((lo, hi))
        return spans

    def files_touched(spans, col, val):
        return sum(1 for lo, hi in spans if lo[col] <= val <= hi[col])

    zdir = str(tmp_path / "zordered")
    pk.zorder_write(li, "l_partkey", "l_suppkey", zdir, n_files=16)
    spans = footer_spans(zdir)
    assert len(spans) >= 8  # enough files for pruning to mean anything
    # probe five points per key; z-clustering must bound BOTH
    for frac in (0.1, 0.3, 0.5, 0.7, 0.9):
        touched_pk = files_touched(spans, "l_partkey", int(pk_max * frac))
        touched_sk = files_touched(spans, "l_suppkey", int(sk_max * frac))
        assert touched_pk <= len(spans) * 0.6, (frac, touched_pk, len(spans))
        assert touched_sk <= len(spans) * 0.6, (frac, touched_sk, len(spans))
    # contrast: linear layout on partkey alone — suppkey never prunes
    ldir = str(tmp_path / "linear")
    (li.repartitionByRange(16, "l_partkey").sortWithinPartitions("l_partkey")
       .write.mode("overwrite").parquet(ldir))
    lspans = footer_spans(ldir)
    assert files_touched(lspans, "l_suppkey", int(sk_max * 0.5)) == len(lspans)


def test_doc_chunk_dedup_is_idempotent(spark, tmp_path):
    """Fixpoint property: scrubbing an already-scrubbed corpus drops
    nothing (the apply step converges in one pass — chunk boundaries are
    position-stable because removal only ever deletes whole chunks)."""
    first = pk.doc_chunk_dedup(spark, SF_SMOKE).select(
        F.col("doc_id"), F.col("clean_text").alias("text"))
    d = str(tmp_path / "scrubbed")
    first.coalesce(1).write.parquet(f"{d}/documents.parquet")
    again = pk.doc_chunk_dedup(spark, d)
    assert again.agg(F.sum("n_dropped")).first()[0] == 0
    same = {r["doc_id"]: r["clean_text"] for r in again.collect()}
    orig = {r["doc_id"]: r["text"] for r in first.collect()}
    assert same == orig


# --------------------------------------------------------------------------- #
# small-file compaction round trip + writer footer reports
# --------------------------------------------------------------------------- #


def test_compaction_roundtrip_oracle_parity(spark):
    assert_query_matches_oracle(spark, "compaction_roundtrip")


def test_compaction_layout_measured_with_pyarrow(spark):
    """The fragment → compact round trip, measured from the footers: the
    fragmented copy really is FRAG_FILES tiny files, the rewrite collapses
    them to the byte-sized count, every output file is under the target,
    and the ROWS are identical frame-for-frame with the original."""
    from tf_idf_using_mapreduce_spark.operators.persisted import _BUILT
    from tf_idf_using_mapreduce_spark.sources.corpus import (
        file_size_histogram,
        parquet_file_stats,
        table_location,
    )

    pk.compaction_roundtrip(spark, SF_SMOKE).collect()
    frag = next(n for n in _BUILT if n.startswith("graft_idx_docs_frag_"))
    comp = next(n for n in _BUILT if n.startswith("graft_idx_docs_compact_"))
    frag_stats = parquet_file_stats(table_location(spark, frag))
    comp_stats = parquet_file_stats(table_location(spark, comp))
    docs = load_table(spark, SF_SMOKE, "documents")
    n_docs = docs.count()
    # fragmented layout: one file per synthetic ingest task
    assert len(frag_stats) == pk.FRAG_FILES
    assert sum(s["rows"] for s in frag_stats) == n_docs
    # compacted layout: the byte-derived count (1 at fixture scale), every
    # file under the target, rows conserved
    total_frag_bytes = sum(s["bytes"] for s in frag_stats)
    assert len(comp_stats) == pk._compact_file_count(total_frag_bytes)
    assert all(s["bytes"] <= pk.COMPACT_TARGET_MB * 1024 * 1024 * 2
               for s in comp_stats)
    assert sum(s["rows"] for s in comp_stats) == n_docs
    # the histogram collapses: fragmented mass spreads below the compacted
    # bucket; after the rewrite everything sits in >= the largest frag bucket
    frag_hist = file_size_histogram(frag_stats)
    comp_hist = file_size_histogram(comp_stats)
    assert max(comp_hist) >= max(frag_hist)
    assert sum(comp_hist.values()) < sum(frag_hist.values())
    # value identity at ROW level, not just the oracled census
    orig = {tuple(r) for r in docs.collect()}
    assert {tuple(r) for r in spark.table(comp).collect()} == orig


def test_compact_file_count_sized_from_bytes():
    mb = 1024 * 1024
    assert pk._compact_file_count(1) == 1
    assert pk._compact_file_count(128 * mb) == 1
    assert pk._compact_file_count(128 * mb + 1) == 2
    assert pk._compact_file_count(10 * 128 * mb, target_mb=128) == 10
    assert pk._compact_file_count(512 * mb, target_mb=64) == 8


def test_layout_writers_return_footer_reports(spark, tmp_path):
    """zorder_write and write_bucketed_table hand back the pyarrow footer
    report of what they just wrote — small-files health is part of the
    write's contract, not a separate audit."""
    from tf_idf_using_mapreduce_spark.sources.corpus import write_bucketed_table

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_partkey", "l_suppkey")
    zstats = pk.zorder_write(li, "l_partkey", "l_suppkey",
                             str(tmp_path / "z"), n_files=8)
    assert sum(s["rows"] for s in zstats) == li.count()
    assert all(s["bytes"] > 0 and s["row_groups"] >= 1 for s in zstats)
    bstats = write_bucketed_table(li.withColumn("bb", F.pmod("l_partkey", F.lit(4))),
                                  "graft_test_report_tbl", ["bb"], n_buckets=4)
    assert sum(s["rows"] for s in bstats) == li.count()
    spark.sql("DROP TABLE IF EXISTS graft_test_report_tbl")
