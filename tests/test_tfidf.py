"""DF top-100 and TF-IDF pipelines: golden checks vs an independent pure-Python
implementation (no Spark, no SQL) + DuckDB oracle parity + plan assertions.
"""

from __future__ import annotations

import math
import os
import re
import subprocess
import sys
import textwrap
import threading
import time
from collections import Counter, defaultdict

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, assert_query_matches_oracle, jobs_of
from tf_idf_using_mapreduce_spark.functions.porter import porter_stem_py, with_stem
from tf_idf_using_mapreduce_spark.functions.text import explode_tokens, filter_stopwords
from tf_idf_using_mapreduce_spark.operators import tfidf as tfidf_mod
from tf_idf_using_mapreduce_spark.operators.tfidf import (
    doc_freq,
    stem_dictionary,
    stemmed_tokens,
    term_counts_of,
    tfidf,
)
from tf_idf_using_mapreduce_spark.session import PACKAGE_PARENT
from tf_idf_using_mapreduce_spark.sources.corpus import stopwords, stopwords_sql_list


def _pure_python_pipeline(sf_dir: str):
    """Independent oracle: tokenize/stop-filter/stem/DF/TF-IDF in plain Python."""
    con = duckdb.connect()
    docs = con.execute(f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')").fetchall()
    con.close()
    stops = set(stopwords())
    doc_terms: dict[int, list[str]] = {}
    for doc_id, text in docs:
        toks = re.findall(r"[a-z]+", text.lower())
        doc_terms[doc_id] = [porter_stem_py(t) for t in toks if t not in stops]
    df_counts: dict[str, set] = defaultdict(set)
    for doc_id, terms in doc_terms.items():
        for t in terms:
            df_counts[t].add(doc_id)
    df_table = {t: len(s) for t, s in df_counts.items()}
    top = sorted(df_table.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    vocab = dict(top)
    scores = {}
    for doc_id, terms in doc_terms.items():
        tf = Counter(t for t in terms if t in vocab)
        for term, n in tf.items():
            scores[(doc_id, term)] = (n, round(n * math.log(10000.0 / (vocab[term] + 1)), 6))
    return top, scores


@pytest.fixture(scope="module")
def golden():
    return _pure_python_pipeline(SF_SMOKE)


def test_doc_freq_matches_pure_python(spark, golden):
    top, _ = golden
    got = [(r["term"], r["df"]) for r in doc_freq(spark, SF_SMOKE).collect()]
    assert got == top


def test_tfidf_matches_pure_python(spark, golden):
    _, scores = golden
    rows = tfidf(spark, SF_SMOKE).collect()
    got = {(r["doc_id"], r["term"]): (r["tf"], r["score"]) for r in rows}
    assert len(got) == len(scores)
    mismatches = {k: (got.get(k), v) for k, v in scores.items() if got.get(k) != v}
    assert not mismatches, dict(list(mismatches.items())[:5])


def test_doc_freq_oracle_parity(spark):
    assert_query_matches_oracle(spark, "doc_freq_top100")


def test_tfidf_oracle_parity(spark):
    assert_query_matches_oracle(spark, "tfidf")


def test_tfidf_plan_shape(spark):
    """The physical plan must broadcast the vocabulary (J1) and contain no
    Python evaluation (stemming stays in codegen)."""
    plan = tfidf(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan[:2000]


def test_doc_freq_plan_is_topk_not_global_sort(spark):
    plan = doc_freq(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_scan_prunes_columns(spark):
    """Only (doc_id, text) may be read from the documents parquet (ReadSchema).
    The scan sits under the stemmed-token stream that feeds the counts
    table's lineage cut, so that is the plan inspected."""
    plan = stemmed_tokens(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: struct<([^\n>]*)", plan)
    assert m, plan[:2000]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if ":" in c}
    assert cols <= {"doc_id", "text"}, cols


def test_spark_parses_the_stop_list_verbatim(spark):
    """The stop filter is SQL text, so Spark's parse of that text IS the
    list it filters by: every pattern, in order, including the doubled
    quotes of ``a's``/``ain't`` and the dead trailing-space patterns."""
    parsed = spark.sql(f"SELECT array{stopwords_sql_list()} AS s").collect()[0]["s"]
    assert parsed == list(stopwords())
    assert {"a's", "ain't", "de ", "er "} <= set(parsed)


def test_filter_stopwords_keeps_what_python_keeps(spark):
    """On the smoke corpus the SQL predicate keeps exactly the tokens a
    Python ``not in set(stopwords())`` keeps, with their multiplicity."""
    toks = explode_tokens(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
    stops = set(stopwords())
    every = [r["token"] for r in toks.collect()]
    kept = [r["token"] for r in filter_stopwords(toks).collect()]
    assert Counter(kept) == Counter(t for t in every if t not in stops)
    assert len(kept) < len(every)


def test_stemmed_tokens_build_round_trips(spark, py4j_round_trips):
    """A warm ``stemmed_tokens`` build stays under 200 py4j round trips
    (~85 today, the stem memo's covered-frame lookup included). The stop
    filter as ``Column.isin(*words)`` costs one round trip per stop word
    and took this build to ~1,600."""
    stemmed_tokens(spark, SF_SMOKE)  # warm: schema and stem memos
    before = py4j_round_trips.n
    stemmed_tokens(spark, SF_SMOKE)
    assert py4j_round_trips.n - before < 200


def test_case_sensitive_vocabulary(spark):
    """``case_sensitive=True`` (the reference's ``-casesensitive``) lets "The"
    escape the lowercase stop list, and its stem is lowercase; the default
    drops it. ``tfidf_of`` scores exactly the ``doc_freq_of`` vocabulary."""
    from tf_idf_using_mapreduce_spark.operators.tfidf import doc_freq_of, tfidf_of

    docs = spark.createDataFrame(
        [(1, "The cat sat on the mat"), (2, "The dog chased the cat")],
        "doc_id long, text string",
    )
    vocab = {r["term"]: r["df"] for r in doc_freq_of(docs, case_sensitive=True).collect()}
    assert vocab.get("the") == 2, vocab
    assert "the" not in {r["term"] for r in doc_freq_of(docs).collect()}
    terms = {r["term"] for r in tfidf_of(docs, case_sensitive=True).collect()}
    assert terms == set(vocab)


# -- the session's Porter stem memo (stem_dictionary) -------------------------
# Tokens prefixed "zqm" appear in no fixture, so each test's corpus is new to
# the session's memo whatever ran before it.


@pytest.fixture
def stem_calls(monkeypatch):
    """Each ``with_stem`` call ``stem_dictionary`` makes appends one entry."""
    calls = []

    def counting(df, *args, **kwargs):
        calls.append(1)
        return with_stem(df, *args, **kwargs)

    monkeypatch.setattr(tfidf_mod, "with_stem", counting)
    return calls


def _tokens(spark, tokens):
    return spark.createDataFrame([(t,) for t in tokens], "token string")


def _stems_of(spark, tokens) -> dict[str, str]:
    """token -> stem as ``stem_dictionary`` returns it over ``tokens``; it
    asserts the memo holds each token once (a duplicate would double TF)."""
    rows = stem_dictionary(_tokens(spark, tokens)).collect()
    assert len(rows) == len({r["token"] for r in rows}), "duplicate tokens in the memo"
    return {r["token"]: r["stem"] for r in rows}


def test_stem_memo_second_call_stems_nothing(spark, stem_calls):
    docs = spark.createDataFrame(
        [(1, "zqmrunning zqmrunning zqmjumps"), (2, "zqmjumps zqmeasily")],
        "doc_id long, text string",
    )
    first = sorted(tuple(r) for r in term_counts_of(docs).collect())
    assert len(stem_calls) == 1
    second = sorted(tuple(r) for r in term_counts_of(docs).collect())
    assert len(stem_calls) == 1, "a warm call over the same corpus ran with_stem"
    assert first == second == [(1, "zqmjump", 1), (1, "zqmrun", 2),
                               (2, "zqmeasili", 1), (2, "zqmjump", 1)]


def test_stem_memo_is_one_partition(spark, monkeypatch):
    """The memo is vocabulary-sized, so it lives in ONE partition: each of
    its broadcasts then runs one task. Holds after a context's first stem
    (the slot emptied), after a stem that extends the memo, and on a hit."""
    monkeypatch.setattr(tfidf_mod, "_stem_memo", None)
    assert stem_dictionary(_tokens(spark, ["zqmpartone", "zqmparting"])).rdd.getNumPartitions() == 1
    grown = stem_dictionary(_tokens(spark, ["zqmparttwo", "zqmparting"]))
    assert grown.rdd.getNumPartitions() == 1
    assert {"zqmpartone", "zqmparttwo", "zqmparting"} <= {r["token"] for r in grown.collect()}
    assert stem_dictionary(_tokens(spark, ["zqmparting"])).rdd.getNumPartitions() == 1


def test_stem_memo_extends_to_new_corpus(spark):
    """Corpus B after corpus A: B's tokens, shared and new, map to the stems
    a direct ``with_stem`` and the pure-Python stemmer give."""
    shared = ["zqmsharing", "zqmrelational", "running"]
    a = shared + ["zqmalphaness", "zqmhopeful"]
    b = shared + ["zqmbetaizing", "zqmconditional", "happiness"]
    _stems_of(spark, a)
    got = _stems_of(spark, b)
    direct = {r["token"]: r["stem"] for r in with_stem(_tokens(spark, b)).collect()}
    assert {t: got.get(t) for t in b} == direct == {t: porter_stem_py(t) for t in b}


def test_stem_memo_shared_across_case_modes(spark, stem_calls):
    """``case_sensitive`` tokens keep their case but stem to the lowercase
    stem, so the default call finds every token the case-sensitive call
    stemmed and stems nothing."""
    docs = spark.createDataFrame(
        [(1, "Zqmwalking zqmwalking"), (2, "zqmwalking Zqmtalks zqmtalks")],
        "doc_id long, text string",
    )
    sensitive = sorted(tuple(r) for r in term_counts_of(docs, case_sensitive=True).collect())
    assert len(stem_calls) == 1
    default = sorted(tuple(r) for r in term_counts_of(docs).collect())
    assert len(stem_calls) == 1, "the default call re-stemmed tokens the session has seen"
    assert sensitive == default == [(1, "zqmwalk", 2), (2, "zqmtalk", 2), (2, "zqmwalk", 1)]
    memo = _stems_of(spark, ["Zqmwalking", "zqmwalking"])
    assert memo["Zqmwalking"] == memo["zqmwalking"] == "zqmwalk"


def test_stem_memo_concurrent_corpora(spark, stem_calls, monkeypatch):
    """Threads stemming different corpora at once each get a complete
    dictionary, and no thread's update to the memo is lost. ``with_stem`` is
    slowed and the switch interval shortened so the calls overlap."""
    counting = tfidf_mod.with_stem

    def slow(df, *args, **kwargs):
        time.sleep(0.5)
        return counting(df, *args, **kwargs)

    monkeypatch.setattr(tfidf_mod, "with_stem", slow)
    corpora = [[f"zqmthread{i}ing", f"zqmthread{i}ness", "running"] for i in range(5)]
    start = threading.Barrier(len(corpora))
    got: dict[int, dict[str, str]] = {}

    def run(i):
        start.wait()
        got[i] = _stems_of(spark, corpora[i])

    threads = [threading.Thread(target=run, args=(i,)) for i in range(len(corpora))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    for i, tokens in enumerate(corpora):
        assert {t: got[i].get(t) for t in tokens} == {t: porter_stem_py(t) for t in tokens}
    before = len(stem_calls)
    _stems_of(spark, [t for tokens in corpora for t in tokens])
    assert len(stem_calls) == before, "a thread's tokens were lost from the memo"


def _write_tokens(path, tokens):
    pq.write_table(pa.table({"token": tokens}), path)


def test_stem_memo_covered_frame_runs_no_job(spark, stem_calls, tmp_path):
    """A repeat call over a file-backed frame the memo already covers (the
    same plan over unchanged files, built afresh) returns the memo without
    running a job; the first call stems, and both return the same stems."""
    path = str(tmp_path / "tokens.parquet")
    tokens = ["zqmcoverings", "zqmcovered", "running"]
    _write_tokens(path, tokens)
    first = stem_dictionary(spark.read.parquet(path))
    assert len(stem_calls) == 1
    fresh = spark.read.parquet(path)  # its schema inference is a job of its own
    again = []
    assert jobs_of(spark, lambda: again.append(stem_dictionary(fresh)), "stem-covered") == 0
    assert len(stem_calls) == 1
    want = {t: porter_stem_py(t) for t in tokens}
    for memo in (first, again[0]):
        assert {r["token"]: r["stem"] for r in memo.collect() if r["token"] in want} == want


def test_stem_memo_keyless_frame_keeps_the_record(spark, tmp_path):
    """A call over a frame with no key (in-memory rows) probes, and the
    record of the covered file frame survives it: the memo only grew."""
    path = str(tmp_path / "tokens.parquet")
    _write_tokens(path, ["zqmkeeping", "zqmkept"])
    stem_dictionary(spark.read.parquet(path))
    stem_dictionary(spark.createDataFrame([("zqmkeepers",)], "token string"))
    fresh = spark.read.parquet(path)
    assert jobs_of(spark, lambda: stem_dictionary(fresh), "stem-keyless") == 0


def test_stem_memo_rewritten_file_is_probed_again(spark, stem_calls, tmp_path):
    """A parquet file rewritten with new tokens is no longer covered: the
    next call probes, stems the new tokens, and the counts match the
    pure-Python stemmer."""
    path = str(tmp_path / "documents.parquet")

    def counts_match(texts):
        got = sorted(tuple(r) for r in term_counts_of(spark.read.parquet(path)).collect())
        want = Counter((d, porter_stem_py(t)) for d, text in enumerate(texts) for t in text.split())
        assert got == sorted((d, stem, n) for (d, stem), n in want.items())

    old = ["zqmrewrite zqmrewriting", "zqmrewrites"]
    pq.write_table(pa.table({"doc_id": [0, 1], "text": old}), path)
    counts_match(old)
    counts_match(old)
    assert len(stem_calls) == 1
    new = ["zqmrewrite zqmfreshness", "zqmrewritings zqmfreshly zqmfreshly"]
    pq.write_table(pa.table({"doc_id": [0, 1], "text": new}), path)
    counts_match(new)
    assert len(stem_calls) == 2, "the rewritten file's new tokens were not stemmed"


def test_stem_memo_nondeterministic_frame_always_probes(spark, tmp_path):
    """A frame whose plan is nondeterministic is never recorded as covered:
    the same frame object still runs the probe on a repeat call."""
    path = str(tmp_path / "tokens.parquet")
    _write_tokens(path, ["zqmrandomly", "zqmrandoms"])
    frame = spark.read.parquet(path).where(F.rand() < 2.0)
    stem_dictionary(frame)
    assert jobs_of(spark, lambda: stem_dictionary(frame), "stem-rand") > 0


def test_stem_memo_reset_slot_forgets_covered_frames(spark, stem_calls, tmp_path, monkeypatch):
    """The covered records live in the memo slot: emptying the slot drops
    them with the memo, so a frame covered before is stemmed again."""
    path = str(tmp_path / "tokens.parquet")
    tokens = ["zqmresetting", "zqmresets"]
    _write_tokens(path, tokens)
    stem_dictionary(spark.read.parquet(path))
    stem_dictionary(spark.read.parquet(path))
    assert len(stem_calls) == 1
    monkeypatch.setattr(tfidf_mod, "_stem_memo", None)
    got = stem_dictionary(spark.read.parquet(path)).collect()
    assert len(stem_calls) == 2
    assert {r["token"]: r["stem"] for r in got} == {t: porter_stem_py(t) for t in tokens}


def test_tfidf_build_job_count(spark):
    """Job-count regression guard: a warm ``doc_freq`` or ``tfidf`` build
    runs 2 jobs, the stem memo's broadcast and the counts cut's map stage.
    The memo covers the corpus's token frame, so no miss probe runs (it
    cost 2 more: its distinct's map stage and the observed cut). Same at
    2, 4 and 8 cores."""
    doc_freq(spark, SF_SMOKE)
    tfidf(spark, SF_SMOKE)
    assert jobs_of(spark, lambda: doc_freq(spark, SF_SMOKE), "doc-freq-build") == 2
    assert jobs_of(spark, lambda: tfidf(spark, SF_SMOKE), "tfidf-build") == 2


def test_stem_memo_not_shared_across_contexts(tmp_path):
    """A new SparkContext in the same process starts an empty memo with no
    covered frames: the slot of the stopped context, whose checkpoint
    blocks are gone, is never read, and a frame the old memo covered is
    stemmed again."""
    _write_tokens(str(tmp_path / "tokens.parquet"), ["walking", "talks"])
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {PACKAGE_PARENT!r})
        from tf_idf_using_mapreduce_spark.operators import tfidf
        from tf_idf_using_mapreduce_spark.session import get_spark

        calls = []
        with_stem = tfidf.with_stem
        tfidf.with_stem = lambda *a, **k: calls.append(1) or with_stem(*a, **k)

        def stems(spark, tokens):
            df = spark.createDataFrame([(t,) for t in tokens], "token string")
            return sorted(tuple(r) for r in tfidf.stem_dictionary(df).collect())

        def file_stems(spark):
            df = spark.read.parquet("tokens.parquet")
            return sorted(tuple(r) for r in tfidf.stem_dictionary(df).collect())

        first = get_spark("memo-first", shuffle_partitions=2)
        stems(first, ["running", "cats"])
        file_stems(first)
        file_stems(first)
        print(len(calls))
        first.stop()
        second = get_spark("memo-second", shuffle_partitions=2)
        print(stems(second, ["jumping"]))
        print(file_stems(second), len(calls))
        print(tfidf._stem_memo[0] == second.sparkContext.applicationId)
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-4:] == [
        "2",
        "[('jumping', 'jump')]",
        "[('jumping', 'jump'), ('talks', 'talk'), ('walking', 'walk')] 4",
        "True",
    ]


def test_tfidf_doc_similarity_oracle_parity(spark):
    assert_query_matches_oracle(spark, "tfidf_doc_similarity")


def test_tfidf_doc_similarity_sane(spark):
    from tf_idf_using_mapreduce_spark.operators.tfidf import tfidf_doc_similarity

    rows = tfidf_doc_similarity(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)
    assert all(r["doc_a"] < r["doc_b"] for r in rows)


def test_doc_freq_approx_error_bound(spark):
    """HLL estimate within 3×rsd of exact for every top term."""
    from tf_idf_using_mapreduce_spark.operators.tfidf import doc_freq_approx

    exact = {r["term"]: r["df"] for r in doc_freq(spark, SF_SMOKE).collect()}
    approx = {r["term"]: r["df_approx"] for r in doc_freq_approx(spark, SF_SMOKE).collect()}
    assert set(approx) == set(exact)
    for term, est in approx.items():
        assert abs(est - exact[term]) <= max(3, 0.15 * exact[term]), (term, est, exact[term])


def test_mllib_variant_runs(spark):
    from tf_idf_using_mapreduce_spark.operators.tfidf import tfidf_mllib

    rows = tfidf_mllib(spark, SF_SMOKE, vocab_size=20).collect()
    assert len(rows) > 0
    assert rows[0]["features"] is not None


def test_doc_freq_approx_err_oracle_parity(spark):
    """HLL error-bound gate: zero 5-sigma violations, n_terms from the exact
    pipeline — the round-5 value check for doc_freq_approx."""
    assert_query_matches_oracle(spark, "doc_freq_approx_err")


def test_tfidf_mllib_topk_overlap_oracle_parity(spark):
    """Rank-overlap twin: the round-6 VALUE check for tfidf_mllib (the last
    rows-only registry entry) — per-doc top-k term sets vs the oracled
    exact pipeline."""
    assert_query_matches_oracle(spark, "tfidf_mllib_topk_overlap")


def test_tfidf_mllib_overlap_tighter_pin(spark):
    """Measured overlap is ~0.99 on the fixture; pin ≥ 0.9 here (tighter
    than the driver floor 0.5, same two-tier discipline as the ANN recall
    twins: loose driver gate, tight pytest pin)."""
    from tf_idf_using_mapreduce_spark.operators.tfidf import tfidf_mllib_topk_overlap

    row = tfidf_mllib_topk_overlap(spark, SF_SMOKE, floor=0.9).collect()[0]
    assert row["overlap_ok"] == 1 and row["n_exact"] > 0


def test_bm25_topk_oracle_parity(spark):
    assert_query_matches_oracle(spark, "bm25_topk")


def test_bm25_topk_ranking_sane(spark):
    """Scores sorted desc, ≤|Q| hits per doc, and an independent pure-Python
    BM25 agrees on every returned (doc, score) at 6 dp."""
    from tf_idf_using_mapreduce_spark.operators.tfidf import BM25_QUERY, bm25_topk

    rows = bm25_topk(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r["n_hits"] <= len(BM25_QUERY) for r in rows)

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    con.close()
    toks = {d: re.findall(r"[a-z]+", t.lower()) for d, t in docs}
    n, sumdl = len(toks), sum(len(t) for t in toks.values())
    tf = {(d, w): ts.count(w) for d, ts in toks.items() for w in BM25_QUERY if w in ts}
    df = Counter(w for (_, w) in tf)
    k1, b = 1.2, 0.75
    expected = {}
    for d, ts in toks.items():
        s = 0.0
        for w in BM25_QUERY:  # fixed order, matching the engine's pivot sum
            if (d, w) not in tf:
                continue
            idf = math.log(1 + (n - df[w] + 0.5) / (df[w] + 0.5))
            dl_over_avg = (len(ts) * n) / sumdl
            s += idf * (tf[d, w] * (k1 + 1)) / (tf[d, w] + k1 * (1 - b + b * dl_over_avg))
        if s:
            expected[d] = s
    for r in rows:
        assert r["score"] == pytest.approx(expected[r["doc_id"]], abs=2e-6)


def test_rrf_fusion_topk_oracle_parity(spark):
    assert_query_matches_oracle(spark, "rrf_fusion_topk")


def test_rrf_fusion_semantics(spark):
    """Fusion is pure rank arithmetic: every returned rrf_score must equal
    Σ 1/(60+rank) over the three legs with absent legs contributing 0; the
    bm25 leg's ranks must agree with the standalone BM25 ranking; the
    semantic leg must rank the pinned query vector's own document first
    (cos=1 with itself); and the legs must genuinely DISAGREE somewhere
    (else the fusion is degenerate)."""
    from tf_idf_using_mapreduce_spark.operators.tfidf import RRF_K, bm25_topk, rrf_fusion_topk

    rows = rrf_fusion_topk(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    for r in rows:
        want = sum(1.0 / (RRF_K + rk)
                   for rk in (r["rank_bm25"], r["rank_vsm"], r["rank_sem"])
                   if rk is not None)
        assert r["rrf_score"] == pytest.approx(want, abs=1e-12)
    # leg consistency: the fused frame's bm25 ranks = the standalone top-k order
    bm25_rank = {r["doc_id"]: i + 1 for i, r in enumerate(bm25_topk(spark, SF_SMOKE).collect())}
    for r in rows:
        if r["rank_bm25"] is not None and r["rank_bm25"] <= 20:
            assert bm25_rank[r["doc_id"]] == r["rank_bm25"], r
    sem = {r["doc_id"]: r["rank_sem"] for r in rows if r["rank_sem"] is not None}
    if 0 in sem:  # vec 0 IS the query: cosine 1.0 ranks it first
        assert sem[0] == 1
    assert any(r["rank_bm25"] != r["rank_vsm"] for r in rows)
    assert any(r["rank_sem"] != r["rank_bm25"] for r in rows)


def test_rrf_fusion_single_corpus_pass(spark):
    """Both ranking legs must read the SAME checkpointed per-doc pivot (one
    tokenize pass), and every post-scan stage is pool-bounded: two
    TakeOrderedAndProject legs + the final one, no global Sort→Exchange of
    the corpus."""
    from tf_idf_using_mapreduce_spark.operators.tfidf import rrf_fusion_topk

    df = rrf_fusion_topk(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # two lexical legs + the semantic leg + the final fusion top-k
    assert plan.count("TakeOrderedAndProject") == 4, plan[:2000]
    assert "CartesianProduct" not in plan
    # the RDD identity only prints in formatted mode
    fmt = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re as _re

    rdd_ids = set(_re.findall(r"MapPartitionsRDD\[(\d+)\]", fmt))
    assert len(rdd_ids) == 1, f"legs read different lineages: {rdd_ids}"


def test_bm25_topk_plan_shape(spark):
    """Top-k must be TakeOrderedAndProject (no global sort); the query-term
    prune must reach below the tf aggregation (no full-vocab shuffle)."""
    from tf_idf_using_mapreduce_spark.operators.tfidf import bm25_topk

    plan = bm25_topk(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
