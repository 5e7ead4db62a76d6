"""Training-corpus curation operators (SURVEY.md §7.2 #7 extension): the
dataset-hygiene passes an LLM data pipeline runs between raw text and
training shards — benchmark-contamination detection, deterministic
stratified sampling, vocabulary/OOV coverage, and repetition-based quality
filtering (the Gopher/C4 rules).

Everything is deterministic portable SQL (Spark JVM-side expressions with
DuckDB twins), composed from the same primitives the dedup/fingerprint
operators use, so each op is oracle-checked end to end.

Scale notes (100 TB):
- ``train_eval_contamination`` joins on winnowing fingerprints — the same
  content-key join as minhash-LSH candidate generation, linear in corpus
  size plus candidate output. Boilerplate fingerprints (the hot-bucket
  analog) would fan out; production adds the LSH-style bucket cap before
  the join (see ``dedup.LSH_BUCKET_CAP``); the eval side is orders of
  magnitude smaller than train, so the joined fingerprint set is bounded
  by eval volume, and Spark broadcast-joins it when the planner sees that.
- ``stratified_sample`` is one window shuffle keyed by stratum; at extreme
  per-stratum cardinality swap row_number for the threshold trick (rank by
  hash, keep < k/n_stratum quantile estimate).
- ``vocab_coverage`` broadcasts a bounded top-V vocabulary — the two-pass
  (build-dictionary, score-corpus) shape every tokenizer-training pipeline uses;
  V is fixed, never corpus-sized.
- ``doc_repetition`` is map-only per-document array math: no shuffle at all.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.text import TOKENS
from tf_idf_using_mapreduce_spark.operators.textstats import (
    GRAM_K,
    SPLIT_PCTS,
    WINNOW_W,
)
from tf_idf_using_mapreduce_spark.sources.corpus import load_table, spread

SAMPLE_PER_STRATUM = 20
# Contamination ignores fingerprints present in more than this many documents:
# ubiquitous n-grams (boilerplate, stock phrases) carry no contamination signal
# but quadratically dominate the join (the hot-bucket problem — measured on the
# closed-vocab fixture: 6.0M join pairs uncapped vs 9.5k at cap 16). Real
# decontamination pipelines (BFF, Dolma) apply the same rule.
CONTAM_FP_CAP = 16
VOCAB_V = 10          # small so the closed-vocabulary fixture has real OOV
REPETITION_MAX = 0.3  # Gopher-style duplicate-trigram cutoff



# --------------------------------------------------------------------------- #
# benchmark contamination: eval docs sharing fingerprints with train docs
# --------------------------------------------------------------------------- #

def _fps_with_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, split, fp) — winnowing fingerprints (same expression as
    ``textstats.doc_fingerprints``) exploded to join rows, tagged with the
    deterministic hash split (same expression as ``textstats.doc_splits``)."""
    train, val, _ = SPLIT_PCTS
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_partition=128 * 1024,
    )
    hs = (
        f"transform(sequence(1, length(text) - {GRAM_K - 1}), "
        f"i -> md5(substr(lower(text), i, {GRAM_K})))"
    )
    wins = (
        f"transform(sequence(1, greatest(size(hs) - {WINNOW_W - 1}, 1)), "
        f"i -> array_min(slice(hs, i, {WINNOW_W})))"
    )
    bucket = "cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"
    return (
        docs.where(F.length("text") >= GRAM_K)
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN {bucket} < {train} THEN 'train'"
                f" WHEN {bucket} < {train + val} THEN 'val'"
                f" ELSE 'test' END"
            ).alias("split"),
            F.expr(hs).alias("hs"),
        )
        .select("doc_id", "split", F.explode(F.expr(f"array_distinct({wins})")).alias("fp"))
    )


def train_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(eval_doc_id, split, n_shared_fps, n_train_docs): held-out documents
    whose winnowed content fingerprints also appear in the train split — the
    decontamination report an LLM pipeline runs before trusting its evals.
    One equi-join on the fingerprint key, preceded by a linear hot-key
    filter: fingerprints in more than ``CONTAM_FP_CAP`` documents are
    boilerplate, not contamination, and would explode the join (see the
    constant's note). Counts are distinct so duplicated fingerprints within
    a doc don't inflate the signal.

    r16 (guide §1.2 "don't compute things twice"): the exploded winnowing
    frame is lineage-cut — it feeds THREE consumers (the rare-fingerprint
    aggregate, the train side, the eval side), and without the cut the
    per-character md5 winnowing pipeline (the engine's densest map-side
    compute) re-ran per consumer. At 100 TB the fingerprint table is a
    persisted intermediate between the winnow and join stages — same cut."""
    fps = _fps_with_split(spark, sf_dir).localCheckpoint(eager=False)
    rare = (
        fps.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") <= CONTAM_FP_CAP)
        .select("fp")
    )
    fps = fps.join(rare, "fp")
    train_fps = fps.where(F.col("split") == "train").select(
        F.col("fp"), F.col("doc_id").alias("train_doc_id")
    )
    eval_fps = fps.where(F.col("split") != "train").select(
        F.col("fp"), F.col("doc_id").alias("eval_doc_id"), "split"
    )
    return (
        eval_fps.join(train_fps, "fp")
        .groupBy("eval_doc_id", "split")
        .agg(
            F.count_distinct("fp").alias("n_shared_fps"),
            F.count_distinct("train_doc_id").alias("n_train_docs"),
        )
    )


CONTAMINATION_ORACLE = f"""
WITH hashed AS (
  SELECT doc_id,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
                   < {SPLIT_PCTS[0]} THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
                   < {SPLIT_PCTS[0] + SPLIT_PCTS[1]} THEN 'val'
              ELSE 'test' END AS split,
         list_transform(range(1, length(text) - {GRAM_K - 2}),
                        i -> md5(substr(lower(text), i, {GRAM_K}))) AS hs,
         length(text) - {GRAM_K - 1} AS n_grams
  FROM documents WHERE length(text) >= {GRAM_K}
),
winnowed AS (
  SELECT doc_id, split,
         list_distinct(list_transform(range(1, greatest(n_grams - {WINNOW_W - 1}, 1) + 1),
                                      i -> list_min(list_slice(hs, i, i + {WINNOW_W - 1})))) AS fps
  FROM hashed
),
exploded_all AS (
  SELECT doc_id, split, unnest(fps) AS fp FROM winnowed
),
rare AS (
  SELECT fp FROM exploded_all GROUP BY fp
  HAVING count(DISTINCT doc_id) <= {CONTAM_FP_CAP}
),
exploded AS (
  SELECT doc_id, split, e.fp FROM exploded_all e JOIN rare USING (fp)
)
SELECT e.doc_id AS eval_doc_id, e.split,
       CAST(count(DISTINCT e.fp) AS BIGINT) AS n_shared_fps,
       CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_train_docs
FROM exploded e
JOIN exploded t ON e.fp = t.fp AND t.split = 'train'
WHERE e.split <> 'train'
GROUP BY e.doc_id, e.split
"""


# --------------------------------------------------------------------------- #
# deterministic stratified sampling
# --------------------------------------------------------------------------- #

def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, doc_id, rk): the first ``SAMPLE_PER_STRATUM`` documents per
    language by md5-of-id order — a stratified sample that is REPRODUCIBLE
    on any engine and any partitioning (``df.sampleBy`` is neither).

    Two-phase per-stratum top-K (round 6): language is a LOW-cardinality
    stratum, so a bare per-lang rank window drags corpus/n_langs rows
    through one task at scale. Phase 1 ranks within (lang, hash shard) —
    shard count size-derived, per-task volume bounded — and keeps each
    shard's first K; phase 2 re-ranks the ≤ K×shards survivors per lang
    (a bounded window). Every global top-K member is inside its shard's
    top-K, so the result — and the oracle, which stays the one-window
    textbook form — is IDENTICAL for any shard count; the shard is an
    internal pruning device, not part of the output (unlike
    ``corpus_shuffle``'s semantic shards)."""
    from tf_idf_using_mapreduce_spark.operators.packing import (
        _derive_shard_count,
        _input_bytes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    n_shards = _derive_shard_count(_input_bytes(docs), 32)
    key = "md5(cast(doc_id as string))"
    shard = f"cast(conv(substr({key}, 1, 8), 16, 10) as bigint) % {n_shards}"
    w1 = Window.partitionBy("lang", "shard").orderBy("key", F.asc("doc_id"))
    cand = (
        docs.select(
            "doc_id", "lang",
            F.expr(key).alias("key"),
            F.expr(shard).alias("shard"),
        )
        .withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= SAMPLE_PER_STRATUM)
    )
    w2 = Window.partitionBy("lang").orderBy("key", F.asc("doc_id"))
    return (
        cand.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= SAMPLE_PER_STRATUM)
        .select("lang", "doc_id", "rk")
    )


STRATIFIED_SAMPLE_ORACLE = f"""
SELECT lang, doc_id, rk
FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
) WHERE rk <= {SAMPLE_PER_STRATUM}
"""


# --------------------------------------------------------------------------- #
# vocabulary coverage / OOV rate
# --------------------------------------------------------------------------- #

def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_oov, oov_rate): per-document out-of-vocabulary
    rate against the corpus top-``VOCAB_V`` vocabulary — the two-pass
    dictionary-then-score shape of tokenizer training. Pass 1 aggregates
    token frequencies (partial aggregation, one small shuffle) and reduces
    the vocabulary to ONE row; pass 2 broadcasts it into a map-only
    membership filter — no join shuffle at any corpus size. Membership is a
    hash-map key probe (``map_contains_key``), not a linear ``array_contains``
    scan, so per-token cost stays O(1) at a production V≈50k vocabulary."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tokens = docs.select("doc_id", F.expr(TOKENS).alias("toks"))
    vocab = (
        tokens.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(VOCAB_V)
        .agg(F.collect_list("token").alias("vocab"))
        .select(F.expr("map_from_arrays(vocab, array_repeat(true, size(vocab)))").alias("vmap"))
    )
    return (
        tokens.crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr("size(toks)").alias("n_tokens"),
            F.expr("size(filter(toks, t -> NOT map_contains_key(vmap, t)))").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr(
                "CASE WHEN n_tokens = 0 THEN 0.0 "
                "ELSE round(cast(n_oov as double) / n_tokens, 6) END"
            ).alias("oov_rate"),
        )
    )


VOCAB_COVERAGE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS} AS toks
  FROM documents
),
freq AS (
  SELECT token, count(*) AS cnt
  FROM (SELECT unnest(toks) AS token FROM toks)
  GROUP BY token ORDER BY cnt DESC, token LIMIT {VOCAB_V}
),
vocab AS (
  SELECT list_sort(list(token)) AS vocab FROM freq
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(toks, t -> NOT list_contains(vocab, t))) AS BIGINT) AS n_oov,
       CASE WHEN len(toks) = 0 THEN 0.0
            ELSE round(CAST(len(list_filter(toks, t -> NOT list_contains(vocab, t)))
                            AS DOUBLE) / len(toks), 6) END AS oov_rate
FROM toks CROSS JOIN vocab
"""


# --------------------------------------------------------------------------- #
# repetition-based quality filter (Gopher duplicate-trigram rule)
# --------------------------------------------------------------------------- #

def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_trigrams, n_dup, dup_ratio, keep): fraction of word
    trigrams that are repeats of an earlier trigram in the same document —
    the Gopher-style intra-document repetition filter. Map-only array math:
    one row per document end to end, no explode, no shuffle."""
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_partition=128 * 1024,
    )
    # CASE guard makes the expression total: Catalyst CSE can evaluate it
    # inside a reordered Filter predicate, where a <3-token doc would hit
    # sequence()'s descending branch and element_at(_, 0) would raise
    tris = (
        "CASE WHEN size(toks) >= 3 THEN transform(sequence(1, size(toks) - 2), "
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), "
        "element_at(toks, i + 2))) ELSE array() END"
    )
    return (
        docs.select("doc_id", F.expr(TOKENS).alias("toks"))
        .where(F.expr("size(toks) >= 3"))
        .select("doc_id", F.expr(tris).alias("tris"))
        .select(
            "doc_id",
            F.expr("size(tris)").alias("n_trigrams"),
            F.expr("size(tris) - size(array_distinct(tris))").alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_dup",
            F.expr("round(cast(n_dup as double) / n_trigrams, 6)").alias("dup_ratio"),
            F.expr(
                f"cast(cast(n_dup as double) / n_trigrams <= {REPETITION_MAX} as boolean)"
            ).alias("keep"),
        )
    )


DOC_REPETITION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS} AS toks
  FROM documents
),
tris AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS tris
  FROM toks WHERE len(toks) >= 3
)
SELECT doc_id,
       CAST(len(tris) AS BIGINT) AS n_trigrams,
       CAST(len(tris) - len(list_distinct(tris)) AS BIGINT) AS n_dup,
       round(CAST(len(tris) - len(list_distinct(tris)) AS DOUBLE) / len(tris), 6) AS dup_ratio,
       (CAST(len(tris) - len(list_distinct(tris)) AS DOUBLE) / len(tris))
           <= {REPETITION_MAX} AS keep
FROM tris
"""


# --------------------------------------------------------------------------- #
# composite curation decision (the end-to-end keep/drop a pipeline applies)
# --------------------------------------------------------------------------- #

MIN_TOKENS = 5


def _curation_case(n_tok: str, dup: str, stop: str) -> str:
    """Shared (Spark == DuckDB) decision cascade: first failing rule names
    the drop reason; 'ok' keeps the document."""
    return (
        f"CASE WHEN {n_tok} < {MIN_TOKENS} THEN 'too_short' "
        f"WHEN {dup} > {REPETITION_MAX} THEN 'repetitive' "
        f"WHEN {stop} < 0.01 OR {stop} > 0.5 THEN 'stopword_ratio' "
        f"ELSE 'ok' END"
    )


def curation_decide(docs: DataFrame) -> DataFrame:
    """The curation cascade over ANY (doc_id, text) frame — batch or
    STREAMING (every rule is stateless per-row array math, so the identical
    expression tree runs under Structured Streaming at ingest time; see
    ``streaming/corpus.py:documents_stream_curation``).

    COMPOSITION WARNING: do not ``.where(keep)`` directly on this output
    inside a larger plan — predicate pushdown inlines the cascade CASE into
    the filter with the tokenize expression re-expanded per trigram-lambda
    element (O(tokens²) per doc; measured 34 s vs 0.2 s at sf0.1). Cut the
    lineage first (``localCheckpoint``/persisted decision table), as
    ``operators/pretrain.py`` does."""
    stops_arr = ", ".join(f"'{w}'" for w in ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it"))
    # sequence(1, n) counts DOWN when n < 1, so short docs need the guard
    tris = (
        "CASE WHEN size(toks) >= 3 THEN transform(sequence(1, size(toks) - 2), "
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), "
        "element_at(toks, i + 2))) ELSE array() END"
    )
    n_tok = "size(toks)"
    dup = "CASE WHEN size(tris) > 0 THEN cast(size(tris) - size(array_distinct(tris)) as double) / size(tris) ELSE cast(0 as double) END"
    stop = f"cast(size(filter(toks, t -> array_contains(array({stops_arr}), t))) as double) / greatest({n_tok}, 1)"
    case = _curation_case(n_tok, f"({dup})", f"({stop})")
    return (
        docs.select("doc_id", F.expr(TOKENS).alias("toks"))
        .select("doc_id", "toks", F.expr(tris).alias("tris"))
        .select(
            "doc_id",
            F.expr(case).alias("reason"),
        )
        .select("doc_id", "reason", F.expr("reason = 'ok'").alias("keep"))
    )


def curation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, reason, keep): the composed curation decision — length,
    Gopher-style trigram repetition, and stopword-band rules in ONE map-only
    pass over the corpus (every rule is per-row array math; no shuffle at
    any corpus size). The cascade order is the contract: the FIRST failing
    rule is the recorded drop reason, so downstream loss accounting
    (how much data did each rule cost?) is a plain groupBy(reason)."""
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_partition=128 * 1024,
    )
    return curation_decide(docs)


def curation_filter_oracle() -> str:
    stops_arr = ", ".join(f"'{w}'" for w in ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it"))
    n_tok = "len(toks)"
    dup = ("CASE WHEN len(tris) > 0 THEN CAST(len(tris) - len(list_distinct(tris)) AS DOUBLE) / len(tris) "
           "ELSE CAST(0 AS DOUBLE) END")
    stop = f"CAST(len(list_filter(toks, t -> list_contains([{stops_arr}], t))) AS DOUBLE) / greatest({n_tok}, 1)"
    case = _curation_case(n_tok, f"({dup})", f"({stop})")
    return f"""
WITH toks AS (
  SELECT doc_id, {TOKENS} AS toks
  FROM documents
),
tri AS (
  SELECT doc_id, toks,
         list_transform(range(1, greatest(len(toks) - 1, 1)),
                        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS tris
  FROM toks
),
decided AS (
  SELECT doc_id, {case} AS reason FROM tri
)
SELECT doc_id, reason, reason = 'ok' AS keep FROM decided
"""


# --------------------------------------------------------------------------- #
# data mixing: per-source mixture report + deterministic rate sampling
# --------------------------------------------------------------------------- #

MIX_BUCKETS = 10000  # hash-Bernoulli resolution for mixture_sample


def source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_tokens, token_share): the per-source mixture
    report every multi-corpus training run starts from (the Pile/Dolma
    "how many tokens does each domain contribute" table). One partial+final
    aggregate over the corpus to ~#sources rows; the grand total joins back
    as a broadcast single-row scalar, so corpus size never touches a second
    shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    agg = (
        docs.select("source", F.expr(f"size({TOKENS})").alias("nt"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )
    total = agg.agg(F.sum("n_tokens").alias("tot"))
    return agg.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("round(cast(n_tokens as double) / tot, 6)").alias("token_share"),
    )


SOURCE_MIXTURE_ORACLE = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(len({TOKENS})) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6) AS token_share
FROM per
"""


def mixture_sample_df(docs: DataFrame, rates: dict[str, float] | None = None,
                      default_rate: float = 1.0) -> DataFrame:
    """Core of :func:`mixture_sample` over any (doc_id, source) frame.

    ``rates`` maps source → keep probability; it enters the plan as a
    broadcast literal ``map(...)`` probed with O(1) ``element_at`` — no join,
    still map-only. Sources absent from the map (and, for the default
    fixture rule, any source not shaped ``srcN``) keep ``default_rate``
    EXPLICITLY instead of NULL-dropping: a typo'd source name must never
    silently delete a corpus slice (round-4 advisor finding)."""
    bucket = (
        f"cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % {MIX_BUCKETS}"
    )
    if rates is None:
        # fixture rule: rate(srcN) = (N mod 4 + 1)/4, i.e. 0.25/0.5/0.75/1.0
        rate = ("coalesce(((try_cast(substr(source, 4) as int) % 4) + 1) / 4.0, "
                f"cast({default_rate} as double))")
        rate_col = F.expr(rate)
    else:
        entries: list = []
        for k, v in sorted(rates.items()):
            entries.extend([F.lit(k), F.lit(float(v))])
        rate_col = F.coalesce(
            F.element_at(F.create_map(*entries), F.col("source")),
            F.lit(float(default_rate)),
        )
    return (
        docs.select("doc_id", "source", rate_col.alias("_rate"))
        .where(F.expr(bucket) < F.col("_rate") * MIX_BUCKETS)
        .select("doc_id", "source")
    )


def mixture_sample(spark: SparkSession, sf_dir: str,
                   rates: dict[str, float] | None = None,
                   default_rate: float = 1.0) -> DataFrame:
    """(doc_id, source): deterministic per-source Bernoulli downsampling —
    the mixture-reweighting step that turns the raw corpus into the target
    domain mix. The keep decision is a pure hash of doc_id against a
    per-source rate (default: the fixture rule rate(srcN) = (N mod 4 + 1)/4;
    pass ``rates`` for an explicit {source: rate} map), so the sample is
    REPRODUCIBLE on any engine, any partitioning, any row order — none of
    which is true of df.sample(). Map-only: filter + project, no shuffle at
    any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return mixture_sample_df(docs, rates=rates, default_rate=default_rate)


# the coalesce mirrors the engine's explicit default-rate rule: a NULL or
# non-`srcN` source keeps rate 1.0 instead of NULL-dropping (the round-4
# advisor's typo'd-source rule — the oracle previously dropped such rows,
# found by the NULL-payload corpus sweep)
MIXTURE_SAMPLE_ORACLE = f"""
SELECT doc_id, source
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % {MIX_BUCKETS}
      < coalesce(((TRY_CAST(substr(source, 4) AS INT) % 4) + 1) / 4.0,
                 CAST(1.0 AS DOUBLE)) * {MIX_BUCKETS}
"""


# --------------------------------------------------------------------------- #
# text normalization (Unicode NFC + control/whitespace cleanup)
# --------------------------------------------------------------------------- #

# real characters, not escape sequences: these pattern strings are passed
# through the COLUMN API (never parsed as SQL literals), so Spark's Java
# regex receives the identical bytes the DuckDB oracle assembles via chr()
# concatenation — no string-literal escaping layer to diverge. \x00 (NUL)
# is deliberately excluded: DuckDB varchars cannot carry it.
_CTRL_CLASS = "[\x01-\x08\x0b\x0c\x0e-\x1f\x7f]"
_WS_RUN = "[ \t\r\n]+"

_CTRL_CLASS_DUCK = (
    "'[' || chr(1) || '-' || chr(8) || chr(11) || chr(12) || chr(14)"
    " || '-' || chr(31) || chr(127) || ']'"
)
_WS_RUN_DUCK = "'[ ' || chr(9) || chr(13) || chr(10) || ']+'"


def text_normalize_df(docs: DataFrame) -> DataFrame:
    """(doc_id, norm_text, changed) over any (doc_id, text) frame: Unicode
    NFC canonical composition, then control characters → space, then
    whitespace runs → one space, then trim — the standard ingest cleaning
    pass (decomposed accents from different crawlers must hash/dedup/
    tokenize identically, and stray control bytes poison downstream
    regexes). NFC is the engine's one justified Arrow-batched Python drop
    in the text path: Spark SQL exposes no Unicode-normalization builtin,
    and both Python's ``unicodedata`` and DuckDB's ``nfc_normalize``
    implement the same UAX#15 algorithm, so the oracle stays a value
    check. The cleanup stages are pure codegen (Column-API regex — see
    the pattern-byte note above). ``changed`` is NULL for NULL text
    (unknown stays unknown)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(_nfc(F.col("text")), _CTRL_CLASS, " "),
            _WS_RUN, " ",
        )
    )
    base = docs.select("doc_id", "text", cleaned.alias("norm_text"))
    return base.select(
        "doc_id",
        "norm_text",
        F.expr(
            "CASE WHEN text IS NULL THEN NULL"
            " ELSE CAST(NOT (norm_text <=> text) AS INT) END"
        ).alias("changed"),
    )


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: normalize the documents table."""
    return text_normalize_df(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


TEXT_NORMALIZE_ORACLE = f"""
WITH n AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(nfc_normalize(text),
              {_CTRL_CLASS_DUCK}, ' ', 'g'),
              {_WS_RUN_DUCK}, ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text,
       CASE WHEN text IS NULL THEN NULL
            ELSE CAST(norm_text IS DISTINCT FROM text AS INT) END AS changed
FROM n
"""


# --------------------------------------------------------------------------- #
# PII redaction (map-only scrubbing pass)
# --------------------------------------------------------------------------- #

# Backslash-free character-class patterns so the SAME literal compiles
# identically under Java regex (Spark) and RE2 (DuckDB) with no escaping
# divergence: [.] for a literal dot, explicit digit classes, no \b / \d.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_IPV4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
PII_DIGITRUN = "[0-9]{7,}"


def pii_redaction_df(docs: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_emails, n_ips, n_digitruns) over any
    (doc_id, text) frame. Three sequential scrub stages — emails, IPv4
    addresses, then 7+-digit runs (phone/SSN/account shapes) — each counted
    on ITS OWN input so an IP's digits are never double-counted as a digit
    run. Pure per-row projection: no shuffle, no UDF, whole-stage codegen;
    at 100 TB this is a map-only pass fused into whatever scan precedes it.
    NULL text stays NULL (counts included), mirroring the corpus-wide
    NULL-semantics contract the round-4 fuzz pinned down."""
    after_email = f"regexp_replace(text, '{PII_EMAIL}', '[EMAIL]')"
    after_ip = f"regexp_replace({after_email}, '{PII_IPV4}', '[IP]')"
    clean = f"regexp_replace({after_ip}, '{PII_DIGITRUN}', '[NUM]')"
    return docs.select(
        "doc_id",
        F.expr(clean).alias("clean_text"),
        F.expr(f"size(regexp_extract_all(text, '{PII_EMAIL}', 0))").alias("n_emails"),
        F.expr(f"size(regexp_extract_all({after_email}, '{PII_IPV4}', 0))").alias("n_ips"),
        F.expr(f"size(regexp_extract_all({after_ip}, '{PII_DIGITRUN}', 0))").alias("n_digitruns"),
    )


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: scrub the documents table. The uniform fixture contains
    no PII (clean_text == text, all counts 0) — the operator's value checks
    ride on the fuzz corpus, whose edge texts include emails, IPs, dotted
    version-number lookalikes, and long digit runs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return pii_redaction_df(docs)


PII_REDACTION_ORACLE = f"""
WITH s1 AS (
  SELECT doc_id, text,
         regexp_replace(text, '{PII_EMAIL}', '[EMAIL]', 'g') AS t1
  FROM documents
),
s2 AS (SELECT *, regexp_replace(t1, '{PII_IPV4}', '[IP]', 'g') AS t2 FROM s1)
SELECT doc_id,
       regexp_replace(t2, '{PII_DIGITRUN}', '[NUM]', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t1, '{PII_IPV4}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(t2, '{PII_DIGITRUN}')) AS INT) AS n_digitruns
FROM s2
"""
