"""Source formats beyond parquet: JSONL (with corrupt-record isolation) and
binary-file dirs feeding the multimodal plumbing."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, jobs_of
from tf_idf_using_mapreduce_spark.sources.corpus import (
    load_table,
    read_binary_dir,
    read_jsonl_corpus,
    spread,
)


def test_jsonl_corpus_roundtrip_and_corrupt_isolation(spark, tmp_path):
    p = tmp_path / "corpus.jsonl"
    lines = [json.dumps({"doc_id": i, "text": f"doc number {i} text"}) for i in range(5)]
    lines.insert(3, "{this is not json")
    p.write_text("\n".join(lines) + "\n")

    # cache first: Spark disallows filtering only on _corrupt_record straight
    # off the raw file (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    df = read_jsonl_corpus(spark, str(p)).cache()
    good = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert good.count() == 5 and bad.count() == 1
    assert {r["doc_id"] for r in good.collect()} == set(range(5))

    # the same pipeline API runs over the jsonl corpus
    from tf_idf_using_mapreduce_spark.operators.tfidf import doc_freq_of

    terms = {r["term"] for r in doc_freq_of(good.select("doc_id", "text")).collect()}
    assert "doc" in terms and "text" in terms  # 'number' stems to 'number'


def test_binary_dir_feeds_multimodal_decode(spark, tmp_path):
    d = tmp_path / "blobs"
    d.mkdir()
    payloads = {f"img{i}.bin": os.urandom(64) for i in range(3)}
    for name, blob in payloads.items():
        (d / name).write_bytes(blob)

    df = read_binary_dir(spark, str(d), glob="*.bin")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 3
    assert all(r["length"] == 64 and len(bytes(r["content"])) == 64 for r in rows)

    # plumb through the Arrow decode stub (same shape multimodal_features uses)
    from tf_idf_using_mapreduce_spark.operators.multimodal import _decode_payload

    for r in rows:
        w, h, feats, raw = _decode_payload(bytes(r["content"]))
        assert 32 <= w < 256 and 32 <= h < 256 and len(feats) == 4 == len(raw)


def test_schema_evolution_merge(spark, tmp_path):
    """Appends with evolving schemas read back as the merged superset
    (mergeSchema) — the contract incremental ingest relies on."""
    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "x")], "id long, a string").write.parquet(d + "/p1")
    spark.createDataFrame([(2, 3.5)], "id long, b double").write.parquet(d + "/p2")
    got = spark.read.option("mergeSchema", True).parquet(d + "/p1", d + "/p2")
    assert sorted(got.columns) == ["a", "b", "id"]
    rows = {r["id"]: (r["a"], r["b"]) for r in got.collect()}
    assert rows == {1: ("x", None), 2: (None, 3.5)}


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from tf_idf_using_mapreduce_spark.sources.corpus import compact_parquet

    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    df = spark.range(0, 20000).withColumn("payload", F.md5(F.col("id").cast("string")))
    df.repartition(64).write.parquet(src)  # the small-files problem
    import glob as _glob

    n_small = len(_glob.glob(src + "/part-*.parquet"))
    assert n_small >= 32
    compact_parquet(spark, src, dst, target_mb=128)
    n_big = len(_glob.glob(dst + "/part-*.parquet"))
    assert n_big < n_small and n_big >= 1
    assert spark.read.parquet(dst).count() == 20000
    # content identical
    a = {r["id"] for r in spark.read.parquet(dst).collect()}
    assert a == set(range(20000))


def test_orc_roundtrip_matches_parquet(spark, tmp_path):
    """ORC is Spark's other first-class columnar format: the documents table
    written as ORC and read back must drive an operator to the identical
    result as the parquet original (format-agnostic operator contract)."""
    from tf_idf_using_mapreduce_spark.operators import textstats as ts
    from tf_idf_using_mapreduce_spark.sources.corpus import load_table

    d = str(tmp_path)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.write.orc(f"{d}/documents.orc")
    back = spark.read.orc(f"{d}/documents.orc")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))
    # operator-level equivalence through a format-bridged table
    back.createOrReplaceTempView("orc_documents")
    a = sorted(map(tuple, ts.token_counts(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT doc_id, size(split(text, ' ')) AS ws_tokens,"
                " size(regexp_extract_all(lower(text), '([a-z]+)', 1)) AS word_tokens,"
                " length(text) AS n_chars,"
                " cast(ceil(length(text) / 4.0) as int) AS bpe_est"
                " FROM orc_documents"
            ).collect(),
        )
    )
    assert a == b


def test_load_table_memo_hit_starts_no_job(spark, tmp_path):
    """A table's first read infers its schema with a Spark job; a second
    read of the unchanged file reuses the inferred schema and starts none."""
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a b", "c"]}),
                   tmp_path / "documents.parquet")
    assert jobs_of(spark, lambda: load_table(spark, str(tmp_path), "documents"), "lt-first") >= 1
    again = []
    assert jobs_of(spark, lambda: again.append(load_table(spark, str(tmp_path), "documents")),
                   "lt-hit") == 0
    assert sorted(tuple(r) for r in again[0].collect()) == [(1, "a b"), (2, "c")]


def test_load_table_rewritten_file_gets_its_new_schema(spark, tmp_path):
    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "documents").dtypes == [("a", "bigint")]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = load_table(spark, str(tmp_path), "documents")
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_spread_follows_a_rewritten_file(spark, tmp_path):
    """``spread`` reads each file's row-group count from its footer, memoized
    per file version: a path rewritten with fewer row groups is read again,
    so the repartition decision follows the new file."""
    target = spark.sparkContext.defaultParallelism
    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": list(range(target))}), path, row_group_size=1)
    df = spark.read.parquet(str(path))
    assert spread(df, bytes_per_partition=1) is df  # one row group per core
    pq.write_table(pa.table({"doc_id": list(range(target)), "pad": ["x" * 64] * target}),
                   path, row_group_size=target)
    df = spark.read.parquet(str(path))
    assert spread(df, bytes_per_partition=1) is not df  # one row group now


def test_load_table_events_ts_on_memo_hit(spark):
    """events.ts (parquet TIMESTAMP(NANOS)) is read as long nanos and
    converted; a memo hit must convert it the same way."""
    first = load_table(spark, SF_SMOKE, "events")
    hit = []
    assert jobs_of(spark, lambda: hit.append(load_table(spark, SF_SMOKE, "events")), "lt-events") == 0
    ts_type = dict(hit[0].dtypes)["ts"]
    assert ts_type.startswith("timestamp") and ts_type == dict(first.dtypes)["ts"]
    rows = [sorted(tuple(r) for r in df.select("event_id", "ts").collect()) for df in (first, hit[0])]
    assert rows[0] == rows[1]
