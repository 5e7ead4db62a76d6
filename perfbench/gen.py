"""Seeded input generator: the ``documents`` table of one workload, in the
fixture schema (doc_id, text, lang, source, n_chars) the engine's text and
dedup queries read.

The same seed always yields the same table. The program under test never
sees the seed, only the directory the table is written to.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS_FILE = os.path.join("tf_idf_using_mapreduce_spark", "resources", "stopwords.txt")

# The most frequent English function words lead the Zipf ranking, so the
# reference stop-list filter removes the head of the distribution.
HEAD_WORDS = (
    "the of and to a in is it that for on with as was by be at this are from "
    "or an have not but which had were they his her their been has we there "
    "all would when will can more other some into only these its also than"
).split()
SUFFIXES = ("", "s", "ed", "ing", "er", "ly", "ness", "ation", "ational",
            "ful", "ive", "ize", "ement", "ous", "ably", "ities")
CONSONANTS = list("bcdfghklmnprstvwz")
VOWELS = list("aeiou")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.6, 0.1, 0.1, 0.1, 0.1)
N_SOURCES = 20

# Corpus sizes. Text: ~6e5 tokens over ~5e4 word forms, large enough that
# per-token work and the shuffles outweigh the fixed cost of the pass's jobs,
# and small enough that a run (set-up, oracle, a cold pass and two warm
# passes) stays near a minute on a 4-core host. Dedup cost is rounds of
# jobs, not data, and its DuckDB oracle grows by ~7 s per 1000 documents,
# so its corpus stays small. Every seed must take the same plan, so each
# file stays well clear of ``sources.corpus.spread``'s thresholds: ~2.3 MB
# text (over 1 MB: spread across cores) and ~150 KB dedup (over the shingle
# scan's 128 KB: spread).
TEXT_DOCS, TEXT_TOKENS, TEXT_STEMS = 10000, 60, 3200
DEDUP_DOCS, DEDUP_TOKENS, DEDUP_STEMS = 640, 60, 1500
DEDUP_CLUSTERED_FRAC = 0.2
ORACLE_ROW_GROUPS = 32


def _vocabulary(rng: np.random.Generator, n_stems: int) -> list[str]:
    """Zipf-ranked word forms: function words, the rest of the stop-list,
    then inflected forms of random stems, so the Porter stemmer folds many
    surface forms onto one stem."""
    with open(STOPWORDS_FILE, encoding="utf-8") as fh:
        stop = [w.strip() for w in fh if w.strip().isalpha()]
    head = [w for w in HEAD_WORDS if w in stop]
    words = head + [w for w in stop if w not in head]
    known = set(words)
    stems: set[str] = set()
    while len(stems) < n_stems:
        syl = rng.integers(2, 4)
        stems.add("".join(rng.choice(CONSONANTS) + rng.choice(VOWELS) for _ in range(syl))
                  + rng.choice(CONSONANTS))
    forms = [s + suf for s in sorted(stems) for suf in SUFFIXES]
    rng.shuffle(forms)
    return words + [f for f in forms if f not in known]


def _zipf_docs(rng: np.random.Generator, vocab: list[str], n_docs: int,
               mean_tokens: int) -> list[str]:
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -1.07
    p /= p.sum()
    lengths = np.maximum(rng.poisson(mean_tokens, n_docs), 4)
    idx = rng.choice(len(vocab), size=int(lengths.sum()), p=p)
    arr = np.array(vocab, dtype=object)[idx]
    out, pos = [], 0
    for n in lengths:
        out.append(" ".join(arr[pos:pos + n]))
        pos += n
    return out


def _near_duplicates(rng: np.random.Generator, docs: list[str], vocab: list[str],
                     frac: float) -> list[str]:
    """Replace ``frac`` of the corpus with planted clusters: each cluster is
    a base document plus 1-4 copies with one word substituted, which keeps
    word-trigram Jaccard well above the 0.8 threshold for ~60-token docs."""
    docs = list(docs)
    n = len(docs)
    target = int(n * frac)
    order = rng.permutation(n)
    i = planted = 0
    while planted < target and i + 1 < n:
        base = docs[order[i]]
        words = base.split(" ")
        size = int(rng.integers(1, 5))
        for j in range(1, size + 1):
            if i + j >= n:
                break
            w = list(words)
            w[int(rng.integers(len(w)))] = vocab[int(rng.integers(len(vocab)))]
            docs[order[i + j]] = " ".join(w)
            planted += 1
        i += size + 1
    return docs


def _documents_table(rng: np.random.Generator, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, N_SOURCES, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def documents_for(workload: str, seed: int) -> pa.Table:
    # one independent stream per workload, so changing one workload never
    # changes another's inputs for the same seed
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload == "text_index":
        vocab = _vocabulary(rng, TEXT_STEMS)
        return _documents_table(rng, _zipf_docs(rng, vocab, TEXT_DOCS, TEXT_TOKENS))
    if workload == "dedup_rounds":
        vocab = _vocabulary(rng, DEDUP_STEMS)
        docs = _zipf_docs(rng, vocab, DEDUP_DOCS, DEDUP_TOKENS)
        return _documents_table(rng, _near_duplicates(rng, docs, vocab, DEDUP_CLUSTERED_FRAC))
    raise KeyError(workload)


def generate(workload: str, seed: int, out_dir: str, oracle_dir: str) -> dict:
    """Write ``<out_dir>/documents.parquet`` as one row group, the layout of
    the repo's fixtures, and the same rows to ``<oracle_dir>`` split into
    ``ORACLE_ROW_GROUPS`` row groups, the units DuckDB scans in parallel
    (one row group runs the oracle's per-token SQL on one core). Return the
    rows, bytes and distinct tokens of the table the program reads."""
    table = documents_for(workload, seed)
    path = os.path.join(out_dir, "documents.parquet")
    for d in (out_dir, oracle_dir):
        os.makedirs(d, exist_ok=True)
    pq.write_table(table, path)
    pq.write_table(table, os.path.join(oracle_dir, "documents.parquet"),
                   row_group_size=-(-table.num_rows // ORACLE_ROW_GROUPS))
    tokens = {w for t in table.column("text").to_pylist() for w in t.split(" ")}
    return {"rows": table.num_rows, "bytes": os.path.getsize(path),
            "distinct_tokens": len(tokens)}
