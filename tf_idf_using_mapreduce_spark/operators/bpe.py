"""Subword (BPE) token operators — the token-exact twins of the word-token
packing/length tier (r10 verdict #1): ``bpe_token_counts`` (the corpus's
subword vocabulary census) and ``pack_sequences_bpe`` (context-window packing
budgeted in the unit a real pretraining pipeline uses). Tokenizer mechanics
and the engine-parity contract live in ``functions/bpe.py``.

Scale design (100 TB):
- Segmentation runs over the DISTINCT-word dictionary only — the stemmer's
  dictionary-encoding discipline (``operators/tfidf.py:stem_dictionary``):
  ONE shuffle builds (word, count), the Arrow-batched apply touches
  vocabulary-sized data (Heaps-law bounded, ~10M rows at web scale — never
  corpus-sized), and per-document token counts come back through a BROADCAST
  join of the (word, k) dictionary into the map-only exploded word stream.
- The merge table ships in the task closure (KBs here; a production 50k-merge
  table is still comfortably broadcast-sized).
- ``pack_sequences_bpe`` reuses the packing tier's two-phase distributed
  prefix sum and bin expansion verbatim (``packing.offsets_from_counts`` /
  ``pack_bins_of``) — only the per-document count column changes basis, so
  the no-global-window discipline is inherited, not re-proven.

Oracles: the DuckDB twin applies the SAME committed merge table through one
recursive CTE (``functions/bpe.py:bpe_seg_ctes``), so both queries are fully
value-checked — the segmentation itself is hash-gated, not just the counts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.bpe import (
    bpe_seg_ctes,
    bpe_segment,
    merge_ranks,
)
from tf_idf_using_mapreduce_spark.functions.text import TOKENS
from tf_idf_using_mapreduce_spark.operators.packing import (
    MAX_SEQ,
    _prefix_partitions,
    offsets_from_counts,
    pack_bins_of,
)
from tf_idf_using_mapreduce_spark.sources.corpus import load_table, spread


def _word_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, word) — the engine-wide word-token basis, exploded. Map-only."""
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("word"))


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n) — corpus word counts, lineage-CUT (vocabulary-sized, so the
    materialization is Heaps-bounded): both the dictionary branch and the
    join probe consume this frame, and without the cut each branch re-scans
    the corpus and re-pays the word shuffle (the plan audit showed TWO text
    scans behind bpe_token_counts)."""
    w = _word_stream(spark, sf_dir)
    return (
        w.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )


def bpe_dictionary_of(words: DataFrame) -> DataFrame:
    """(word, k, syms): the BPE segmentation dictionary over the DISTINCT
    words of any (…, word) frame — subtoken count and the symbols
    themselves. One distinct-shuffle on word, then an Arrow-batched apply of
    the committed merge table (vocabulary-sized, never corpus-sized). The
    library seam a downstream tokenizer-swap would replace."""
    ranks = merge_ranks()  # closure-shipped; KBs

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            syms = [bpe_segment(w, ranks) for w in pdf["word"]]
            yield pd.DataFrame({
                "word": pdf["word"].values,
                "k": [len(s) for s in syms],
                "syms": syms,
            })

    return words.select("word").distinct().mapInPandas(
        seg, "word string, k int, syms array<string>"
    )


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, n_occurrences, n_words): the corpus's subword-token census —
    every BPE symbol with its total occurrence count (word occurrences ×
    occurrences of the symbol INSIDE the word's segmentation, so a word like
    'small' → [s, m, a, l, l, </w>] counts 'l' twice per occurrence) and the
    number of distinct words whose segmentation contains it. The subword
    twin of the word-token ``token_counts``; fully oracle-checked against
    the recursive-CTE apply of the same committed merge table."""
    wc = _word_counts(spark, sf_dir)
    dic = bpe_dictionary_of(wc)
    ex = wc.join(F.broadcast(dic), "word").select(
        "word", "n", F.explode("syms").alias("token")
    )
    return ex.groupBy("token").agg(
        F.sum("n").alias("n_occurrences"),
        F.countDistinct("word").alias("n_words"),
    )


def bpe_token_counts_oracle() -> str:
    return f"""
WITH RECURSIVE allw AS (
  SELECT unnest({TOKENS}) AS word FROM documents
),
awc AS (SELECT word, count(*) AS n FROM allw GROUP BY word),
wc AS (SELECT word FROM awc),
{bpe_seg_ctes()},
ex AS (SELECT word, unnest(syms) AS token FROM bpe_final)
SELECT token,
       CAST(sum(awc.n) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT ex.word) AS BIGINT) AS n_words
FROM ex JOIN awc USING (word)
GROUP BY token
"""


def bpe_doc_counts_of(words: DataFrame) -> DataFrame:
    """(doc_id, n): per-document SUBWORD token count over any (doc_id, word)
    frame — the dictionary's per-word subtoken count broadcast back into the
    map-only word stream, then one groupBy. Documents with no words produce
    no row (their count is zero on both engines)."""
    dic = bpe_dictionary_of(words).select("word", "k")
    return (
        words.join(F.broadcast(dic), "word")
        .groupBy("doc_id")
        .agg(F.sum("k").cast("long").alias("n"))
    )


def pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seq_id, n_docs, n_tokens): :func:`packing.pack_sequences` with the
    corpus token stream measured in BPE SUBWORD tokens — concatenate every
    document's segmentation in doc_id order and split into ``MAX_SEQ``-token
    training sequences. This is the unit an LLM context window is actually
    budgeted in; the word-token packer under-counts every multi-subword word
    (here ~2.7 subwords/word). Same two-phase distributed prefix sum, same
    bin expansion — only the count basis differs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("word"))
    counts = bpe_doc_counts_of(words)
    return pack_bins_of(offsets_from_counts(counts, _prefix_partitions(docs)))


def pack_sequences_bpe_oracle() -> str:
    return f"""
WITH RECURSIVE w AS (
  SELECT doc_id, unnest({TOKENS}) AS word FROM documents
),
wc AS (SELECT DISTINCT word FROM w),
{bpe_seg_ctes()},
sublen AS (SELECT word, len(syms) AS k FROM bpe_final),
counts AS (
  SELECT w.doc_id, CAST(sum(s.k) AS BIGINT) AS n
  FROM w JOIN sublen s USING (word)
  GROUP BY w.doc_id
),
spans AS (
  SELECT doc_id, n,
         CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS start
  FROM counts
),
binned AS (
  SELECT doc_id, n, start,
         unnest(range(CAST(floor(start / {MAX_SEQ}) AS BIGINT),
                      CAST(floor((start + n - 1) / {MAX_SEQ}) AS BIGINT) + 1)) AS seq_id
  FROM spans WHERE n > 0
)
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(least(start + n, (seq_id + 1) * {MAX_SEQ})
                - greatest(start, seq_id * {MAX_SEQ})) AS BIGINT) AS n_tokens
FROM binned GROUP BY seq_id
"""


def bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row tokenizer evaluation — the metrics a pretraining team reads
    before adopting a tokenizer: ``fertility`` (subword tokens emitted per
    word token — the standard compression measure), ``chars_per_subword``
    (letters per emitted symbol, end-of-word marker excluded from the char
    mass), ``vocab_words``/``fused_words`` (distinct words, and those the
    merge table fuses to a single symbol), and the raw totals. All ratios
    are one double division of exact integer masses (< 2^53 — bit-identical
    IEEE on both engines), rounded at 6dp by shared convention. Costs one
    aggregate over the (vocabulary-sized) dictionary joined to the word
    counts — nothing corpus-shaped beyond the word-count shuffle it shares
    with :func:`bpe_token_counts`."""
    wc = _word_counts(spark, sf_dir)
    dic = bpe_dictionary_of(wc)  # (word, k, syms)
    joined = wc.join(F.broadcast(dic), "word").select(
        "word", "n", "k", F.expr("length(word)").alias("chars")
    )
    return joined.agg(
        F.sum("n").alias("n_words"),
        F.sum(F.col("n") * F.col("k")).alias("n_subwords"),
        F.count(F.lit(1)).alias("vocab_words"),
        F.count(F.when(F.col("k") == 1, True)).alias("fused_words"),
        F.round(
            F.sum(F.col("n") * F.col("k")).cast("double") / F.sum("n").cast("double"), 6
        ).alias("fertility"),
        F.round(
            F.sum(F.col("n") * F.col("chars")).cast("double")
            / F.sum(F.col("n") * F.col("k")).cast("double"), 6
        ).alias("chars_per_subword"),
    )


def bpe_fertility_oracle() -> str:
    return f"""
WITH RECURSIVE allw AS (
  SELECT unnest({TOKENS}) AS word FROM documents
),
awc AS (SELECT word, count(*) AS n FROM allw GROUP BY word),
wc AS (SELECT word FROM awc),
{bpe_seg_ctes()},
joined AS (
  SELECT a.word, a.n, len(f.syms) AS k, length(a.word) AS chars
  FROM awc a JOIN bpe_final f USING (word)
)
SELECT CAST(sum(n) AS BIGINT) AS n_words,
       CAST(sum(n * k) AS BIGINT) AS n_subwords,
       CAST(count(*) AS BIGINT) AS vocab_words,
       CAST(count(CASE WHEN k = 1 THEN 1 END) AS BIGINT) AS fused_words,
       round(CAST(sum(n * k) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS fertility,
       round(CAST(sum(n * chars) AS DOUBLE) / CAST(sum(n * k) AS DOUBLE), 6)
         AS chars_per_subword
FROM joined
"""


def bpe_source_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_words, n_subwords, fertility, chars_per_subword): the
    tokenizer-fit report PER SOURCE — :func:`bpe_fertility`'s corpus-level
    metrics broken out by provenance. This is the table a data team reads
    when a tokenizer trained on one mix meets a new source: a source whose
    fertility is far above the corpus mean is paying more context-window
    per word (OOV-ish vocabulary, different language/register), which
    distorts token budgets (``mixture_plan_bpe``) and packing efficiency
    for that slice. Same machinery as the BPE census: ONE word-count
    shuffle keyed (source, word) — vocabulary×sources-sized, lineage-cut —
    the broadcast dictionary prices each distinct word once, and the
    rollup is O(sources). NULL source is a real group (plain groupBy on
    both engines — the r11-advice contract)."""
    docs = spread(load_table(spark, sf_dir, "documents").select("source", "text"))
    swc = (
        docs.select("source", F.explode(F.expr(TOKENS)).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    dic = bpe_dictionary_of(swc).select("word", "k")
    joined = swc.join(F.broadcast(dic), "word").select(
        "source", "n", "k", F.expr("length(word)").alias("chars")
    )
    return joined.groupBy("source").agg(
        F.sum("n").alias("n_words"),
        F.sum(F.col("n") * F.col("k")).alias("n_subwords"),
        F.round(
            F.sum(F.col("n") * F.col("k")).cast("double") / F.sum("n").cast("double"), 6
        ).alias("fertility"),
        F.round(
            F.sum(F.col("n") * F.col("chars")).cast("double")
            / F.sum(F.col("n") * F.col("k")).cast("double"), 6
        ).alias("chars_per_subword"),
    )


def bpe_source_fertility_oracle() -> str:
    return f"""
WITH RECURSIVE sw AS (
  SELECT source, unnest({TOKENS}) AS word FROM documents
),
swc AS (SELECT source, word, count(*) AS n FROM sw GROUP BY source, word),
wc AS (SELECT DISTINCT word FROM swc),
{bpe_seg_ctes()},
joined AS (
  SELECT s.source, s.n, len(f.syms) AS k, length(s.word) AS chars
  FROM swc s JOIN bpe_final f USING (word)
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_words,
       CAST(sum(n * k) AS BIGINT) AS n_subwords,
       round(CAST(sum(n * k) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS fertility,
       round(CAST(sum(n * chars) AS DOUBLE) / CAST(sum(n * k) AS DOUBLE), 6)
         AS chars_per_subword
FROM joined
GROUP BY source
"""
