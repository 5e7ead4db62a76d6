"""Property-based checks (SURVEY.md §5.2 #4) — fast ones run the portable SQL
through DuckDB (same expressions the Spark side executes), the Spark-bound
ones use few examples."""

from __future__ import annotations

import math
import re

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from tf_idf_using_mapreduce_spark.functions.porter import porter_stem_py
from tf_idf_using_mapreduce_spark.functions.text import TOKENIZE_SQL, TOKENS

text_strategy = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="'\\"),
    min_size=0, max_size=200,
)


@settings(max_examples=60, deadline=None)
@given(text_strategy)
def test_tokenizer_yields_only_nonempty_alpha(text):
    con = duckdb.connect()
    toks = con.execute("SELECT " + TOKENIZE_SQL.format(col="?"), [text]).fetchone()[0]
    con.close()
    assert all(t and re.fullmatch(r"[a-z]+", t) for t in toks)
    # tokens reconstruct exactly the lowercase letter runs of the input
    assert toks == re.findall(r"[a-z]+", text.lower())


def test_spark_tokens_match_python(spark):
    """TOKENS on Spark splits exactly like Python's [a-z]+ over lowercased
    text, on the dialect fuzz's edge texts; NULL text stays NULL."""
    from pyspark.sql import functions as F

    from tests.test_fuzz_dialect import _EDGE_TEXTS

    texts = _EDGE_TEXTS + [None]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = {r["i"]: r["t"] for r in df.select("i", F.expr(TOKENS).alias("t")).collect()}
    for i, text in enumerate(texts):
        want = None if text is None else re.findall(r"[a-z]+", text.lower())
        assert got[i] == want, text


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=20))
def test_stemmer_closure_properties(word):
    stem = porter_stem_py(word)
    assert stem, word                       # never empties a token
    assert len(stem) <= len(word) + 1, word  # +1 only from the 1b 'e' restore
    assert re.fullmatch(r"[a-z]+", stem)
    assert porter_stem_py(stem) == porter_stem_py(porter_stem_py(stem))  # stable after 2 passes


def test_tfidf_score_monotonicity():
    """score(tf, df) increases in tf, decreases in df (df < corpus constant)."""
    score = lambda tf, df: tf * math.log(10000.0 / (df + 1))
    for df in (1, 10, 100, 5000):
        assert score(2, df) > score(1, df)
    for tf in (1, 5):
        assert score(tf, 1) > score(tf, 10) > score(tf, 1000)


def test_topk_is_prefix_of_full_ranking(spark):
    from tf_idf_using_mapreduce_spark.operators.tfidf import doc_freq
    from tests.conftest import SF_SMOKE

    top5 = [(r["term"], r["df"]) for r in doc_freq(spark, SF_SMOKE, top_n=5).collect()]
    full = [(r["term"], r["df"]) for r in doc_freq(spark, SF_SMOKE, top_n=10**6).collect()]
    assert top5 == full[:5]


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda e: e[0] != e[1]),
        min_size=1, max_size=60,
    )
)
def test_connected_components_matches_union_find(edge_list):
    """connected_components == classic union-find on random graphs, at the
    default local-finish bound (no rounds), at bound 0 (star rounds only)
    and at a small bound (rounds first, then the local finish once few
    enough edges remain). Hypothesis drives the edge sets; session-scoped
    spark fetched directly since @given can't take function-args from
    fixtures."""
    from tf_idf_using_mapreduce_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=8)
    from tf_idf_using_mapreduce_spark.operators.dedup import (
        CC_LOCAL_EDGES,
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edge_list:
        union(a, b)
    nodes = {n for e in edge_list for n in e}
    # canonical label = min member of the component
    comp: dict[int, list[int]] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    want = {n: min(comp[find(n)]) for n in nodes}

    edges = spark.createDataFrame(edge_list, "doc_a long, doc_b long")
    for bound in (CC_LOCAL_EDGES, 0, 3):
        rows = connected_components(edges, local_edges=bound).collect()
        got = {r["doc_id"]: r["cluster_id"] for r in rows}
        assert len(got) == len(rows), bound  # one label row per node
        assert got == want, bound


@settings(max_examples=80, deadline=None)
@given(st.integers(min_value=0, max_value=1 << 50),
       st.integers(min_value=0, max_value=1 << 50))
def test_shard_count_law_monotone_and_floored(b1, b2):
    """Round-6 shard law: never below the pinned floor, monotone in input
    bytes, exactly the floor below the per-shard budget, and linear (±1
    ceil step) above it — for BOTH operator floors."""
    from tf_idf_using_mapreduce_spark.operators import packing as pk

    for floor in (pk.SHUFFLE_SHARDS, pk.BATCH_SHARDS):
        lo, hi = sorted((b1, b2))
        assert pk._derive_shard_count(lo, floor) <= pk._derive_shard_count(hi, floor)
        assert pk._derive_shard_count(b1, floor) >= floor
        if b1 <= pk.SHARD_BYTES_PER_SHARD * floor:
            assert pk._derive_shard_count(b1, floor) == max(
                floor, -(-b1 // pk.SHARD_BYTES_PER_SHARD) if b1 else 0, 1)


@settings(max_examples=40, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii", exclude_characters="'\\\""),
               min_size=0, max_size=120))
def test_split_bucket_portable_and_uniform_range(text):
    """The content-hash split bucket computes identically in DuckDB (the
    oracle engine) for arbitrary ascii text and always lands in [0, 100)
    with the documented band edges."""
    from tf_idf_using_mapreduce_spark.operators import release as rel

    con = duckdb.connect()
    bucket, split = con.execute(
        f"SELECT {rel._SPLIT_BUCKET_DUCK} AS bucket, "
        f"CASE WHEN text IS NULL THEN NULL "
        f" WHEN {rel._SPLIT_BUCKET_DUCK} < {rel.SPLIT_TRAIN_END} THEN 'train' "
        f" WHEN {rel._SPLIT_BUCKET_DUCK} < {rel.SPLIT_VAL_END} THEN 'val' "
        f" ELSE 'test' END AS split FROM (SELECT ? AS text) t",
        [text],
    ).fetchone()
    con.close()
    assert 0 <= bucket < 100
    expected = "train" if bucket < 90 else ("val" if bucket < 95 else "test")
    assert split == expected
