"""Porter stemmer: pure-Python reference vs portable-SQL layers (DuckDB and
Spark), plus known full-algorithm outputs (SURVEY.md §7.3 stemmer-parity risk).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tf_idf_using_mapreduce_spark.functions.porter import (
    porter_stem_py,
    stem_sql_select,
    with_stem,
)

# Full-algorithm outputs (cross-checked against the published algorithm; the
# fixture vocabulary rows are the load-bearing ones for oracle parity).
KNOWN = {
    # paper-derived examples, full pipeline
    "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
    "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
    "bled": "bled", "motoring": "motor", "sing": "sing", "hopping": "hop",
    "tanned": "tan", "falling": "fall", "hissing": "hiss", "fizzed": "fizz",
    "failing": "fail", "filing": "file", "happy": "happi", "sky": "sky",
    "generalization": "gener", "oscillators": "oscil", "universities": "univers",
    "controll": "control", "roll": "roll", "rate": "rate", "cease": "ceas",
    "crying": "cry", "employer": "employ",
    # fixture vocabulary (documents.text at all SFs)
    "a": "a", "agg": "agg", "batch": "batch", "big": "big", "column": "column",
    "customer": "custom", "data": "data", "dup": "dup", "fast": "fast",
    "filter": "filter", "group": "group", "hash": "hash", "join": "join",
    "key": "kei", "line": "line", "merge": "merg", "order": "order",
    "part": "part", "query": "queri", "row": "row", "scan": "scan",
    "slow": "slow", "small": "small", "sort": "sort", "spark": "spark",
    "stream": "stream", "table": "tabl", "the": "the", "value": "valu",
    "vector": "vector", "window": "window",
}


def _duck_stem(words: list[str]) -> dict[str, str]:
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"('{w}')" for w in words)
        + ") v(token)"
    )
    out = dict(con.execute(stem_sql_select("SELECT token FROM t")).fetchall())
    con.close()
    return out


def test_known_outputs_python():
    bad = {w: (porter_stem_py(w), exp) for w, exp in KNOWN.items() if porter_stem_py(w) != exp}
    assert not bad, bad


def test_sql_matches_python_on_known_vocab():
    res = _duck_stem(list(KNOWN))
    bad = {w: (res[w], porter_stem_py(w)) for w in KNOWN if res[w] != porter_stem_py(w)}
    assert not bad, bad


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=14), min_size=1, max_size=40, unique=True))
def test_sql_matches_python_random_words(words):
    res = _duck_stem(words)
    for w in words:
        assert res[w] == porter_stem_py(w), w


def test_spark_expression_matches_python(spark):
    words = sorted(KNOWN) + ["running", "jumped", "relational", "electrical", "abilities"]
    df = spark.createDataFrame([(w,) for w in words], "token string")
    got = {r["token"]: r["stem"] for r in with_stem(df, "token").collect()}
    bad = {w: (got[w], porter_stem_py(w)) for w in words if got[w] != porter_stem_py(w)}
    assert not bad, bad


# --------------------------------------------------------------------------- #
# OpenNLP parity table (VERDICT r1 item 5; SURVEY §7.3 commitment).
#
# The reference stems with OpenNLP PorterStemmer
# (/root/reference/DocumentFreq.java:29, /root/reference/IDF.java:31), which
# ports Martin Porter's own reference implementation. That implementation
# departs from the published 1980 paper in two documented Step-2 rules (the
# departures are listed on the algorithm's official page and carried verbatim
# into the OpenNLP/Lucene ports):
#
#   1. "(m>0) abli -> able" is generalized to "(m>0) bli -> ble";
#   2. an extra rule "(m>0) logi -> log".
#
# The engine implements the PAPER (functions/porter.py STEP2_RULES), so the
# two engines agree everywhere except words whose Step-2 suffix hits one of
# those rules. The fixture vocabulary (KNOWN above) and the classic test
# vectors touch neither, so every oracled query is unaffected; the table
# below pins the exact divergence surface.
#
# A third, structural divergence: OpenNLP preserves case (its rules assume
# lowercase input, so "The" passes through mangled/unchanged), while the
# engine always lowercases first — documented at operators/tfidf.py
# doc_freq_of and exercised by tests/test_tfidf.py::test_case_sensitive_vocabulary.
# --------------------------------------------------------------------------- #

# word -> (engine stem [paper], OpenNLP stem [reference impl departures])
OPENNLP_DIVERGENT = {
    # hit by "bli -> ble" (paper only rewrites literal "abli")
    "possibly": ("possibli", "possibl"),
    "sensibly": ("sensibli", "sensibl"),
    "visibly": ("visibli", "visibl"),
    "terribly": ("terribli", "terribl"),
    "incredibly": ("incredibli", "incred"),  # ble then step-4 "ible" (m>1)
    # hit by the extra "logi -> log"
    "apology": ("apologi", "apolog"),
    "geology": ("geologi", "geolog"),
    "biology": ("biologi", "biolog"),
    "analogy": ("analogi", "analog"),
}

# words whose Step-2 path goes through "abli -> able" in BOTH variants
# (the generalized rule subsumes the paper rule), pinning agreement
OPENNLP_AGREEING_EDGES = {
    "probably": "probabl",
    "conformably": "conform",
    "agreed": "agre",
    "generalization": "gener",
    "oscillators": "oscil",
}


def test_opennlp_divergence_table_engine_side():
    bad = {
        w: (porter_stem_py(w), eng)
        for w, (eng, _) in OPENNLP_DIVERGENT.items()
        if porter_stem_py(w) != eng
    }
    assert not bad, bad
    # the table documents true divergences, not typos
    assert all(eng != onlp for eng, onlp in OPENNLP_DIVERGENT.values())


def test_opennlp_agreeing_edges():
    bad = {
        w: (porter_stem_py(w), exp)
        for w, exp in OPENNLP_AGREEING_EDGES.items()
        if porter_stem_py(w) != exp
    }
    assert not bad, bad


def test_sql_matches_python_on_divergence_words():
    """The SQL codegen form must stem the divergence words exactly like the
    Python reference — the parity risk is engine-vs-OpenNLP, never
    engine-vs-engine."""
    words = list(OPENNLP_DIVERGENT) + list(OPENNLP_AGREEING_EDGES)
    res = _duck_stem(words)
    bad = {w: (res[w], porter_stem_py(w)) for w in words if res[w] != porter_stem_py(w)}
    assert not bad, bad


def test_fixture_vocabulary_avoids_divergent_rules():
    """No fixture-vocabulary stem touches bli/logi — the reason all oracled
    TF-IDF queries are insensitive to the OpenNLP departures."""
    for w in KNOWN:
        assert not w.endswith(("bly", "logy", "bli", "logi")), w
