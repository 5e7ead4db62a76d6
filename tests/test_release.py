"""Dataset-release tier (round 6): split / leakage audit / recipe / card."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, assert_query_matches_oracle
from tf_idf_using_mapreduce_spark.operators import release as rel
from tf_idf_using_mapreduce_spark.sources.corpus import load_table


@pytest.mark.parametrize(
    "name", ["train_val_test_split", "split_leakage", "mixture_plan", "dataset_card"]
)
def test_oracle_parity(spark, name):
    assert_query_matches_oracle(spark, name)


def test_split_is_content_stable_and_complete(spark):
    """Same text → same split regardless of doc_id (the property id-hash
    splits do NOT have); every non-null doc gets a split; proportions are
    in the right neighborhood of 90/5/5."""
    rows = [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, None)] + [
        (10 + i, f"doc number {i} " + "filler " * (i % 7)) for i in range(400)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["split"] for r in rel.split_assignment_df(docs).collect()}
    assert out[1] == out[2] and out[1] in {"train", "val", "test"}
    assert out[3] is None
    assigned = [s for d, s in out.items() if s is not None]
    assert len(assigned) == len(rows) - 1
    train_share = sum(1 for s in assigned if s == "train") / len(assigned)
    assert 0.8 < train_share < 0.97  # hash-uniform around 0.90


def test_split_leakage_same_hash_cross_is_structurally_zero(spark):
    """Byte-identical texts cannot straddle splits under content-hash
    assignment — the invariant the oracle pins; check it on a corpus DENSE
    with exact dups under different ids."""
    import tempfile

    rows = [(i, f"shared text body number {i % 20}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/documents.parquet")
        row = rel.split_leakage(spark, d).collect()[0]
    assert row["n_same_hash_cross"] == 0
    assert row["n_pairs"] >= row["n_cross"] >= 0


def test_mixture_plan_arithmetic(spark):
    """Weights sum to 1, epochs = ceil(rate), and a source holding less
    than its target share gets rate > 1 (upsampling by repetition)."""
    import math

    rows = rel.mixture_plan(spark, SF_SMOKE).collect()
    assert abs(sum(r["target_weight"] for r in rows) - 1.0) < 1e-4
    total = sum(r["n_tokens"] for r in rows)
    for r in rows:
        # sample_rate is rounded 6dp after epochs was ceil'd from the raw
        # rate — allow the one-ulp boundary either way
        lo = max(1, math.ceil(r["sample_rate"] - 1e-6))
        hi = max(1, math.ceil(r["sample_rate"] + 1e-6))
        assert lo <= r["epochs"] <= hi, r
        expected = r["target_weight"] * total / r["n_tokens"]
        assert abs(r["sample_rate"] - expected) < 1e-3
    # src0 targets 30% of tokens but holds ~1/20 of them -> must upsample
    src0 = next(r for r in rows if r["source"] == "src0")
    assert src0["sample_rate"] > 1 and src0["epochs"] >= 2


def test_dataset_card_cross_checks(spark):
    """Card totals must agree with the operators it composes: doc/token
    totals with corpus_stats, dup mass with dedup_exact's group census."""
    from tf_idf_using_mapreduce_spark.operators.dedup import dedup_exact
    from tf_idf_using_mapreduce_spark.operators.textstats import corpus_stats

    cards = rel.dataset_card(spark, SF_SMOKE).collect()
    stats = corpus_stats(spark, SF_SMOKE).collect()[0]
    assert sum(r["n_docs"] for r in cards) == stats["n_docs"]
    assert sum(r["n_tokens"] for r in cards) == stats["total_tokens"]
    dup_total = (
        dedup_exact(spark, SF_SMOKE)
        .where(F.col("n_docs") > 1)
        .agg(F.sum("n_docs").alias("s"))
        .collect()[0]["s"]
    ) or 0
    # dedup_exact groups NULL texts together; the card counts NULL text as
    # never-dup, so its dup mass is the non-null part of the group census
    n_null = stats["n_null_text"]
    null_dups = n_null if n_null > 1 else 0
    assert sum(r["dup_docs"] for r in cards) == dup_total - null_dups
    for r in cards:
        assert 0 <= r["quality_keep"] <= r["n_docs"]
        assert 0 <= r["pii_docs"] <= r["n_docs"]
        assert 1 <= r["n_langs"]


def test_split_is_map_only(spark):
    plan = (
        rel.train_val_test_split(spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:2000]


def test_release_manifest_oracle_parity(spark):
    assert_query_matches_oracle(spark, "release_manifest")


def test_release_manifest_composition(spark):
    """Manifest totals must equal the curate→dedup survivor census, and
    every (split, source) cell holds only valid split labels."""
    from pyspark.sql import functions as F
    from tf_idf_using_mapreduce_spark.operators.curation import curation_filter
    from tf_idf_using_mapreduce_spark.operators.release import release_manifest
    from tf_idf_using_mapreduce_spark.sources.corpus import load_table

    rows = release_manifest(spark, SF_SMOKE).collect()
    assert rows and {r["split"] for r in rows} <= {"train", "val", "test"}
    kept_ids = {r["doc_id"] for r in curation_filter(spark, SF_SMOKE).collect() if r["keep"]}
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    survivors = {}
    import hashlib
    for r in docs:
        if r["doc_id"] in kept_ids and r["text"] is not None:
            h = hashlib.md5(r["text"].encode()).hexdigest()
            survivors[h] = min(survivors.get(h, r["doc_id"]), r["doc_id"])
    assert sum(r["n_docs"] for r in rows) == len(survivors)


def test_mixture_plan_redistributes_absent_named_source_mass(spark):
    """Round-7 advice: if a named MIXTURE_TARGETS source is absent (or
    token-less), its mass must flow to the unnamed pool — weights still
    sum to 1 whenever at least one unnamed source exists. Corpus: src1 and
    src2 named-present, src0 ABSENT, two unnamed sources."""
    import tempfile

    rows = []
    for i in range(40):
        rows.append((i, "alpha beta gamma delta words " * 3,
                     ["src1", "src2", "srcx", "srcy"][i % 4]))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/documents.parquet")
        out = {r["source"]: r for r in rel.mixture_plan(spark, d).collect()}
    assert set(out) == {"src1", "src2", "srcx", "srcy"}
    assert abs(sum(r["target_weight"] for r in out.values()) - 1.0) < 1e-9
    # src0's 0.30 joins the unnamed remainder: (1 - 0.2 - 0.1) / 2 = 0.35
    assert abs(out["srcx"]["target_weight"] - 0.35) < 1e-9
    assert abs(out["srcy"]["target_weight"] - 0.35) < 1e-9
    assert abs(out["src1"]["target_weight"] - 0.20) < 1e-9
    assert abs(out["src2"]["target_weight"] - 0.10) < 1e-9


def test_split_leakage_semantic_oracle_parity(spark):
    assert_query_matches_oracle(spark, "split_leakage_semantic")


def test_split_leakage_semantic_flags_cross_split_twin(spark):
    """Constructed semantic leak: two docs whose TEXTS share no n-grams
    (opposite vocabularies — the textual audit is blind to them) but whose
    embeddings are nearly parallel, content-hashed into different splits;
    the census must report exactly that cross-split pair at cos ≈ 1, and
    an orthogonal distractor in a far sign-bucket must not pair."""
    import tempfile

    # find two texts landing in different splits (content-hash is
    # deterministic, so probe a few candidates through the real assignment)
    cands = [(i, f"candidate text number {i} with deterministic words") for i in range(40)]
    cdf = spark.createDataFrame(cands, "doc_id long, text string")
    splits = {r["doc_id"]: r["split"] for r in rel.split_assignment_df(cdf).collect()}
    by_split: dict = {}
    for i, s in splits.items():
        by_split.setdefault(s, i)
    assert "train" in by_split and len(by_split) >= 2
    i_train = by_split["train"]
    i_other = next(i for s, i in by_split.items() if s != "train")

    docs = [
        (0, cands[i_train][1]),
        (1, cands[i_other][1]),
        (2, "completely different distractor content entirely"),
    ]
    embs = [
        (0, [1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 0.05], 0),
        (1, [1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 0.10], 0),  # cos ~ 1 with vec 0
        (2, [-1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 0.2], 1),  # opposite orthant
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(docs, "doc_id long, text string").coalesce(1).write.parquet(
            f"{tmp}/documents.parquet"
        )
        spark.createDataFrame(
            embs, "vec_id long, embedding array<float>, label int"
        ).coalesce(1).write.parquet(f"{tmp}/embeddings.parquet")
        out = rel.split_leakage_semantic(spark, tmp).collect()
    assert len(out) == 1
    row = out[0]
    assert row["split_a"] != row["split_b"]
    assert row["n_pairs"] == 1 and row["max_cos"] > 0.99


# --------------------------------------------------------------------------- #
# round-11: BPE-token mixture plan
# --------------------------------------------------------------------------- #

def test_mixture_plan_bpe_oracle_parity(spark):
    assert_query_matches_oracle(spark, "mixture_plan_bpe")


def test_mixture_plan_bpe_budgets_in_subword_tokens(spark):
    """The BPE plan's per-source token census equals sum-of-fertility (the
    subword counts bpe_doc_counts_of reports), is >= the word-token census
    everywhere (every word emits >= 1 subword), and the weights are
    IDENTICAL to the word plan's (weights depend on MIXTURE_TARGETS and
    the source set, not the token basis) while the sample rates re-rank
    wherever per-source fertility differs."""
    from tf_idf_using_mapreduce_spark.functions import text
    from tf_idf_using_mapreduce_spark.operators import release as rel
    from tf_idf_using_mapreduce_spark.operators.bpe import bpe_doc_counts_of
    from tf_idf_using_mapreduce_spark.sources.corpus import load_table
    from pyspark.sql import functions as F

    bpe = {r["source"]: r for r in rel.mixture_plan_bpe(spark, SF_SMOKE).collect()}
    word = {r["source"]: r for r in rel.mixture_plan(spark, SF_SMOKE).collect()}
    assert set(bpe) == set(word) and bpe
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text", "source")
    words = docs.select("doc_id", "source", F.explode(F.expr(text.TOKENS)).alias("word"))
    per_doc = bpe_doc_counts_of(words.select("doc_id", "word"))
    expect = {
        r["source"]: r["t"]
        for r in docs.join(per_doc, "doc_id")
        .groupBy("source").agg(F.sum("n").alias("t")).collect()
    }
    for s, r in bpe.items():
        assert r["n_tokens"] == expect[s]
        assert r["n_tokens"] >= word[s]["n_tokens"]
        assert r["target_weight"] == word[s]["target_weight"]


def test_mixture_plan_dedup_oracle_parity(spark):
    assert_query_matches_oracle(spark, "mixture_plan_dedup")


def test_mixture_plan_dedup_discounts_boilerplate(spark, tmp_path):
    """A source whose mass is duplicate boilerplate keeps only its unique
    census after dedup — its sample_rate RISES relative to the raw plan's
    (fewer survivor tokens chasing the same unnamed-mass weight), while an
    all-unique source's census is untouched."""
    rows = [(i, "dup boiler plate text copy " * 10, "spam") for i in range(40)]
    rows += [(100 + i, f"unique document number {i} alpha beta gamma delta", "clean")
             for i in range(10)]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string, source string") \
        .coalesce(1).write.parquet(f"{d}/documents.parquet")
    raw = {r["source"]: r for r in rel.mixture_plan(spark, d).collect()}
    dd = {r["source"]: r for r in rel.mixture_plan_dedup(spark, d).collect()}
    # the 40 identical spam docs collapse to ONE survivor
    assert raw["spam"]["n_docs"] == 40 and dd["spam"]["n_docs"] == 1
    assert dd["spam"]["n_tokens"] * 40 == raw["spam"]["n_tokens"]
    # the unique source's census is untouched
    assert dd["clean"]["n_docs"] == raw["clean"]["n_docs"] == 10
    assert dd["clean"]["n_tokens"] == raw["clean"]["n_tokens"]
    # and the dedup plan upsamples the deduped spam slice harder to hit the
    # same unnamed-mass share (sample_rate is per-token of the census)
    assert dd["spam"]["sample_rate"] > raw["spam"]["sample_rate"]
