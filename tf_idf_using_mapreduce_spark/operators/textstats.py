"""Text-analysis operators for training-data pipelines (SURVEY.md §7.2 #7):
language-ID heuristic, quality scoring, token counting, and winnowing document
fingerprints. Everything is deterministic portable SQL (shared Spark/DuckDB),
JVM-side in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.text import TOKENS, word_bigrams
from tf_idf_using_mapreduce_spark.sources.corpus import load_table, spread

QUALITY_ROUND = 6

# stopword-profile lexicons for the n-gram/profile language heuristic
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "es": ("el", "la", "de", "los", "las", "que", "y", "un"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans"),
}


def _count_in_list(arr: str, words: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"size(filter({arr}, t -> t IN ({quoted})))"


def _count_in_list_duck(arr: str, words: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({arr}, t -> t IN ({quoted})))"


# --------------------------------------------------------------------------- #
# language identification (profile heuristic)
# --------------------------------------------------------------------------- #

def _lang_pred_case(counts: dict[str, str]) -> str:
    """argmax over profile-hit counts, ties resolved in profile order (en
    first) — deterministic, shared by both dialects."""
    langs = list(LANG_PROFILES)
    whens = []
    for i, lang in enumerate(langs):
        # lang wins if it strictly beats every EARLIER lang (priority order:
        # earlier wins ties) and is >= every later lang
        conds = []
        for j, o in enumerate(langs):
            if j == i:
                continue
            op = ">" if j < i else ">="
            conds.append(f"{counts[lang]} {op} {counts[o]}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, lang_pred, n): labeled language vs heuristic prediction.

    The fixture corpus is English-vocabulary text with decorative ``lang``
    labels, so the heuristic predicts 'en' throughout — the confusion matrix
    makes that explicit rather than faking accuracy."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    counts = {lang: _count_in_list(TOKENS, words) for lang, words in LANG_PROFILES.items()}
    pred = _lang_pred_case(counts)
    return (
        docs.withColumn("lang_pred", F.expr(pred))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def lang_id_oracle() -> str:
    counts = {lang: _count_in_list_duck(TOKENS, words) for lang, words in LANG_PROFILES.items()}
    pred = _lang_pred_case(counts)
    return f"""
SELECT lang, lang_pred, count(*) AS n FROM (
  SELECT lang, {pred} AS lang_pred FROM documents
) lp GROUP BY 1, 2
"""


# --------------------------------------------------------------------------- #
# Unicode script mix (multilingual curation signal)
# --------------------------------------------------------------------------- #

# single-char classes of literal code points (no backslash escapes — the
# identical pattern text runs under Java regex and RE2). Latin includes the
# Latin-1/Extended letter blocks; CJK covers Han + kana; the × ÷ signs
# inside U+00C0-024F are counted as latin (same impurity on both engines).
_SCRIPT_CLASSES = {
    "latin": f"[A-Za-z{chr(0xC0)}-{chr(0x24F)}]",
    "cjk": f"[{chr(0x4E00)}-{chr(0x9FFF)}{chr(0x3040)}-{chr(0x30FF)}]",
    "cyrillic": f"[{chr(0x400)}-{chr(0x4FF)}]",
    "arabic": f"[{chr(0x600)}-{chr(0x6FF)}]",
}
_SCRIPT_ORDER = list(_SCRIPT_CLASSES)


def _script_counts(duck: bool) -> dict[str, str]:
    g = ", 'g'" if duck else ""
    return {
        s: f"(length(text) - length(regexp_replace(text, '{cls}', ''{g})))"
        for s, cls in _SCRIPT_CLASSES.items()
    }


def _dominant_case(counts: dict[str, str]) -> str:
    """Priority-ordered argmax (latin wins ties, then cjk, …), 'none' when
    no script chars at all, NULL text stays NULL — same CASE discipline as
    the language-ID argmax."""
    whens = [
        "WHEN text IS NULL THEN NULL",
        f"WHEN {' + '.join(counts.values())} = 0 THEN 'none'",
    ]
    for i, s in enumerate(_SCRIPT_ORDER):
        conds = []
        for j, o in enumerate(_SCRIPT_ORDER):
            if j == i:
                continue
            op = ">" if j < i else ">="
            conds.append(f"{counts[s]} {op} {counts[o]}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{s}'")
    return "CASE " + " ".join(whens) + " ELSE 'other' END"


def script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_latin, n_cjk, n_cyrillic, n_arabic, dominant): per-doc
    Unicode-script character histogram + priority-argmax dominant script —
    the multilingual curation signal (script≠declared-lang mismatches flag
    mislabeled or mixed documents; CJK-dominant text needs different
    tokenization). Map-only: each count is two length() calls around a
    single-char-class regexp_replace (code-point semantics agree across
    engines, astral planes included); no shuffle at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cnt = _script_counts(duck=False)
    cols = [
        F.expr(f"CASE WHEN text IS NULL THEN NULL ELSE {cnt[s]} END")
        .cast("int").alias(f"n_{s}")
        for s in _SCRIPT_ORDER
    ]
    return docs.select(
        "doc_id", *cols, F.expr(_dominant_case(cnt)).alias("dominant")
    )


def script_mix_oracle() -> str:
    cnt = _script_counts(duck=True)
    cols = ", ".join(
        f"CASE WHEN text IS NULL THEN NULL ELSE CAST({cnt[s]} AS INT) END AS n_{s}"
        for s in _SCRIPT_ORDER
    )
    return f"""
SELECT doc_id, {cols}, {_dominant_case(cnt)} AS dominant
FROM documents
"""


# --------------------------------------------------------------------------- #
# quality scoring
# --------------------------------------------------------------------------- #

_QUALITY_STOPS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _quality_exprs(count_fn, size_fn: str) -> dict[str, str]:
    n_tok = f"{size_fn}({TOKENS})"
    n_stop = count_fn(TOKENS, _QUALITY_STOPS)
    # cast, not "* 1.0" — Spark types the 1.0 literal as DECIMAL and the whole
    # ratio would come back Decimal('0.080000') instead of a double
    return {
        "n_tokens": n_tok,
        "stop_ratio": f"round(cast({n_stop} as double) / greatest({n_tok}, 1), {QUALITY_ROUND})",
        "mean_token_len": (
            f"round(aggregate({TOKENS}, cast(0 as double), (acc, t) -> acc + length(t))"
            f" / greatest({n_tok}, 1), {QUALITY_ROUND})"
        ),
        # in-range length band + moderate stopword share = 'quality'
        "quality": (
            f"round((CASE WHEN {n_tok} BETWEEN 20 AND 1000 THEN cast(0.5 as double) ELSE cast(0 as double) END)"
            f" + (CASE WHEN cast({n_stop} as double) / greatest({n_tok}, 1) BETWEEN 0.01 AND 0.5"
            f"     THEN cast(0.5 as double) ELSE cast(0 as double) END), {QUALITY_ROUND})"
        ),
    }


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, stop_ratio, mean_token_len, quality)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exprs = _quality_exprs(_count_in_list, "size")
    return docs.select(
        "doc_id", *[F.expr(e).alias(name) for name, e in exprs.items()]
    )


def text_quality_oracle() -> str:
    exprs = _quality_exprs(_count_in_list_duck, "len")
    # DuckDB spells fold 'list_reduce'; rebuild mean_token_len portably
    n_tok = f"len({TOKENS})"
    # DuckDB's list_sum is NULL for BOTH an empty and a NULL list; Spark's
    # 0-seeded fold is 0 for empty but NULL for NULL (unknown stays unknown).
    # The CASE keeps NULL text NULL while coalescing empty text to 0 —
    # both cases surfaced by the adversarial-docs fuzz.
    exprs["mean_token_len"] = (
        f"round(CASE WHEN {TOKENS} IS NULL THEN NULL"
        f" ELSE coalesce(list_sum(list_transform({TOKENS}, t -> length(t))), 0) END * 1.0"
        f" / greatest({n_tok}, 1), {QUALITY_ROUND})"
    )
    cols = ", ".join(f"{e} AS {name}" for name, e in exprs.items())
    return f"SELECT doc_id, {cols} FROM documents"


# --------------------------------------------------------------------------- #
# token counting (whitespace + BPE-ish estimate)
# --------------------------------------------------------------------------- #

def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ws_tokens, word_tokens, n_chars, bpe_est): whitespace split
    count, word-regex count, and a chars/4 BPE-token estimate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("ws_tokens"),
        F.expr(f"size({TOKENS})").alias("word_tokens"),
        F.length("text").alias("n_chars"),
        F.expr("cast(ceil(length(text) / 4.0) as int)").alias("bpe_est"),
    )


TOKEN_COUNTS_ORACLE = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len({TOKENS}) AS word_tokens,
       length(text) AS n_chars,
       CAST(ceil(length(text) / 4.0) AS INT) AS bpe_est
FROM documents
"""


# --------------------------------------------------------------------------- #
# winnowing fingerprints (char 5-grams, window-min)
# --------------------------------------------------------------------------- #

GRAM_K = 5
WINNOW_W = 4


def fingerprint_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fps: array<string>) — each document's winnowing fingerprint
    SET (md5 over char-5-grams, min per sliding window of 4, distinct).
    Shared core of :func:`doc_fingerprints` and
    ``dedup.dedup_containment``. One row per document end to end: NO
    explode and NO window-function shuffle (array higher-order functions
    only)."""
    # per-CHARACTER md5 work: ~10x denser compute per input byte than
    # tokenization, so spread at a lower size threshold
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        bytes_per_partition=128 * 1024,
    )
    hs = f"transform(sequence(1, length(text) - {GRAM_K - 1}), i -> md5(substr(lower(text), i, {GRAM_K})))"
    wins = (
        f"transform(sequence(1, greatest(size(hs) - {WINNOW_W - 1}, 1)), "
        f"i -> array_min(slice(hs, i, {WINNOW_W})))"
    )
    return (
        docs.where(F.length("text") >= GRAM_K)
        .select("doc_id", F.expr(hs).alias("hs"))
        .select("doc_id", F.expr(f"array_distinct({wins})").alias("fps"))
    )


# the matching DuckDB CTE body: SELECT doc_id, fps FROM (...)
FINGERPRINT_SETS_SQL = f"""
SELECT doc_id,
       list_distinct(list_transform(range(1, greatest(n_grams - {WINNOW_W - 1}, 1) + 1),
                                    i -> list_min(list_slice(hs, i, i + {WINNOW_W - 1})))) AS fps
FROM (
  SELECT doc_id,
         list_transform(range(1, length(text) - {GRAM_K - 2}),
                        i -> md5(substr(lower(text), i, {GRAM_K}))) AS hs,
         length(text) - {GRAM_K - 1} AS n_grams
  FROM documents WHERE length(text) >= {GRAM_K}
) hashed
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_fingerprints, min_fp): winnowing — md5 over char-5-grams,
    min per full sliding window of 4, distinct survivors per document. The
    standard near-dup/plagiarism fingerprint set at ~2/(w+1) density.
    See :func:`fingerprint_sets` for the shared core."""
    return fingerprint_sets(spark, sf_dir).select(
        "doc_id",
        F.expr("size(fps)").alias("n_fingerprints"),
        F.expr("array_min(fps)").alias("min_fp"),
    )


# DuckDB twin: list_slice uses an INCLUSIVE end index; range() end-exclusive
FINGERPRINT_ORACLE = f"""
WITH winnowed AS ({FINGERPRINT_SETS_SQL})
SELECT doc_id, len(fps) AS n_fingerprints, list_min(fps) AS min_fp
FROM winnowed
"""


# --------------------------------------------------------------------------- #
# Count-min sketch (declarative, oracle-exact)
# --------------------------------------------------------------------------- #

CMS_DEPTH = 4     # hash rows
CMS_WIDTH = 256   # buckets per row — deliberately small so collisions occur
                  # at fixture scale and the over-estimate property is visible


def token_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, est_cnt, exact_cnt): token frequencies estimated through a
    count-min sketch BUILT FROM RELATIONAL PRIMITIVES — ``CMS_DEPTH`` seeded
    md5 hash rows × ``CMS_WIDTH`` buckets, the same portable hash family as
    the minhash/simhash sketches, so the DuckDB oracle computes the
    IDENTICAL sketch (unlike Spark's opaque ``count_min_sketch`` binary,
    which nothing else can read).

    Scale shape: the sketch is a groupBy over (seed, bucket) — D×W bounded
    rows regardless of corpus size, built with one shuffle whose map-side
    partials collapse each partition to ≤ D×W rows. That's the point of CMS
    at 100 TB: a frequency table over an unbounded token stream in O(D×W)
    memory, mergeable across partitions/streams by addition. est ≥ exact
    always (collisions only add); error ≤ 2·N/W with prob 1-2^-D.
    """
    from tf_idf_using_mapreduce_spark.functions.hashing import seeded_md5

    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        F.explode(F.expr(TOKENS)).alias("token")
    )
    bucket_structs = ", ".join(
        f"named_struct('seed', {s}, 'bucket', "
        f"cast(conv(substr({seeded_md5(str(s), 'token')}, 1, 8), 16, 10) as bigint) % {CMS_WIDTH})"
        for s in range(CMS_DEPTH)
    )
    pairs = toks.select(
        "token", F.explode(F.expr(f"array({bucket_structs})")).alias("sb")
    ).select("token", "sb.seed", "sb.bucket")
    sketch = pairs.groupBy("seed", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
    lookup = pairs.select("token", "seed", "bucket").distinct()
    est = (
        lookup.join(sketch, ["seed", "bucket"])
        .groupBy("token")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return est.join(vocab, "token").select("token", "est_cnt", "exact_cnt")


def token_freq_cms_oracle() -> str:
    from tf_idf_using_mapreduce_spark.functions.hashing import seeded_md5

    per_seed = " UNION ALL ".join(
        f"SELECT token, {s} AS seed,"
        f" CAST(('0x' || substr({seeded_md5(str(s), 'token')}, 1, 8)) AS BIGINT)"
        f" % {CMS_WIDTH} AS bucket FROM toks"
        for s in range(CMS_DEPTH)
    )
    return f"""
WITH toks AS (
  SELECT unnest({TOKENS}) AS token FROM documents
),
pairs AS ({per_seed}),
sketch AS (SELECT seed, bucket, count(*) AS cnt FROM pairs GROUP BY 1, 2),
vocab AS (SELECT token, count(*) AS exact_cnt FROM toks GROUP BY 1),
lookup AS (SELECT DISTINCT token, seed, bucket FROM pairs),
est AS (
  SELECT l.token, min(sk.cnt) AS est_cnt
  FROM lookup l JOIN sketch sk ON sk.seed = l.seed AND sk.bucket = l.bucket
  GROUP BY 1
)
SELECT e.token, e.est_cnt, v.exact_cnt FROM est e JOIN vocab v ON v.token = e.token
"""


# --------------------------------------------------------------------------- #
# deterministic dataset splitting
# --------------------------------------------------------------------------- #

SPLIT_PCTS = (80, 10, 10)  # train / val / test


def doc_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, split): deterministic train/val/test assignment by content-free
    hash of the doc id — the split a training pipeline must be able to
    REPRODUCE anywhere (Spark's ``randomSplit`` is partitioning-dependent;
    a hash of the stable key is not). Bucket = first 8 md5 hex digits of the
    id mod 100: pure projection, no shuffle, and any engine (here: the
    DuckDB oracle) derives the identical assignment. At 100 TB the same
    expression splits petabytes with zero data movement and survives
    repartitioning, backfills, and incremental appends."""
    train, val, _ = SPLIT_PCTS
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    bucket = (
        f"cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"
    )
    return docs.select(
        "doc_id",
        F.expr(
            f"CASE WHEN {bucket} < {train} THEN 'train'"
            f" WHEN {bucket} < {train + val} THEN 'val'"
            f" ELSE 'test' END"
        ).alias("split"),
    )


DOC_SPLITS_ORACLE = f"""
SELECT doc_id,
       CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
                 < {SPLIT_PCTS[0]} THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
                 < {SPLIT_PCTS[0] + SPLIT_PCTS[1]} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


# --------------------------------------------------------------------------- #
# corpus-trained bigram LM scoring (the CCNet/"perplexity filter" shape)
# --------------------------------------------------------------------------- #

LM_ROUND = 6


def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, nll): per-document average negative log-likelihood
    under a bigram language model with Laplace (add-1) smoothing trained on
    the corpus itself — the SQL-expressible stand-in for the CCNet-style
    perplexity quality filter (score each document under a reference LM;
    high NLL = out-of-distribution text). Documents with <2 tokens produce
    no bigrams and are excluded, mirrored in the oracle.

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), V = |unigram vocab|;
    nll = avg over the doc's bigrams of −ln P.

    Scale shape: bigram extraction is a map-only array expression (the
    ``bigram_pmi`` pattern); model "training" is two partial+final hash
    aggregations (bigram and bigram-prefix counts — Zipf keys collapse
    map-side, never a per-key window that would drag a hot ``w1`` partition
    into one task); scoring joins the bigram stream to the count tables on
    (w1,w2) — an equi-shuffle co-location at corpus scale with AQE skew
    splitting, while the vocab-sized prefix table and the scalar V
    broadcast. One final groupBy(doc_id) produces the score. Nothing holds
    state beyond the count tables — exactly how you'd score 100 TB under a
    frozen n-gram LM (counts persisted as the "model" table)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = spread(docs).select(
        "doc_id", F.expr(TOKENS).alias("t")
    )
    doc_bigrams = toks.where(F.size("t") >= 2).select(
        "doc_id",
        F.explode(word_bigrams("t")).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    c12 = doc_bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = doc_bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        toks.select(F.explode("t").alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    scored = (
        doc_bigrams.join(c12, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (-F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")))).alias("nl"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nl"), LM_ROUND).alias("nll"),
    )


DOC_LM_SCORE_ORACLE = f"""
WITH toksarr AS (
  SELECT doc_id, {TOKENS} AS t FROM documents
),
doc_bigrams AS (
  SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(t)),
                                         i -> {{'w1': t[i], 'w2': t[i+1]}})) AS bg
    FROM toksarr WHERE len(t) >= 2
  ) bgx
),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM doc_bigrams GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM doc_bigrams GROUP BY w1),
vocab AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM toksarr) u)
SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(-ln((c12.c12 + 1) * 1.0 / (c1.c1 + vocab.v))), {LM_ROUND}) AS nll
FROM doc_bigrams b
JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
JOIN c1 ON b.w1 = c1.w1
CROSS JOIN vocab
GROUP BY b.doc_id
"""


# the "domain we want more of" for importance resampling — a trained recipe
# would point this at a curated high-quality slice; the seam is the constant
DSIR_TARGET_SOURCE = "src0"


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, log_ratio): per-document importance weight for
    DATA SELECTION — the average bigram log-likelihood RATIO between a
    target-domain LM (trained on the ``DSIR_TARGET_SOURCE`` slice) and the
    background LM (trained on the whole corpus), the hashed-n-gram
    importance-resampling recipe of DSIR (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023 — public
    method). log_ratio > 0 ⇒ the document looks more like the target
    domain than the corpus average; sampling ∝ exp(weight) upweights
    target-like data. Both LMs are Laplace-smoothed over the SAME support
    (the global unigram vocab V), so the ratio is well-defined for bigrams
    the target slice never saw.

    Scale shape — identical to :func:`doc_lm_score`, whose count-table
    "model" pattern this reuses: map-only bigram extraction, two
    partial+final hash aggregations per LM (the target LM's tables are a
    filtered subset of the same stream), equi-joins back to the bigram
    stream with the vocab scalar broadcast, one final groupBy(doc_id).
    The per-bigram term ln(Pt) − ln(Pb) is computed from the SAME joined
    row in both engines (no split-CTE mixing), and the doc average is
    rounded at LM_ROUND exactly like the proven doc_lm_score oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    toks = spread(docs).select(
        "doc_id", "source",
        F.expr(TOKENS).alias("t"),
    )
    doc_bigrams = toks.where(F.size("t") >= 2).select(
        "doc_id", "source",
        F.explode(word_bigrams("t")).alias("bg"),
    ).select("doc_id", "source", "bg.w1", "bg.w2")
    is_tgt = F.col("source") == DSIR_TARGET_SOURCE
    # one pass builds BOTH LMs: background counts plus conditional target
    # counts ride the same aggregation (no second scan of the bigram stream)
    # count(when(...)) not sum(cast(...)): a bigram type occurring only in
    # NULL-source docs must have target count 0, not NULL (Spark sums an
    # all-NULL group to NULL; the oracle's CASE-sum gives 0)
    c12 = doc_bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("cb12"),
        F.count(F.when(is_tgt, True)).alias("ct12"),
    )
    c1 = doc_bigrams.groupBy("w1").agg(
        F.count(F.lit(1)).alias("cb1"),
        F.count(F.when(is_tgt, True)).alias("ct1"),
    )
    vocab = toks.select(F.explode("t").alias("w")).agg(F.countDistinct("w").alias("v"))
    term = F.log((F.col("ct12") + 1) / (F.col("ct1") + F.col("v"))) - F.log(
        (F.col("cb12") + 1) / (F.col("cb1") + F.col("v"))
    )
    scored = (
        doc_bigrams.join(c12, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", term.alias("lr"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lr"), LM_ROUND).alias("log_ratio"),
    )


DSIR_IMPORTANCE_ORACLE = f"""
WITH toksarr AS (
  SELECT doc_id, source,
         {TOKENS} AS t FROM documents
),
doc_bigrams AS (
  SELECT doc_id, source, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
    SELECT doc_id, source, unnest(list_transform(range(1, len(t)),
                                                 i -> {{'w1': t[i], 'w2': t[i+1]}})) AS bg
    FROM toksarr WHERE len(t) >= 2
  ) bgx
),
c12 AS (SELECT w1, w2, count(*) AS cb12,
               sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS ct12
        FROM doc_bigrams GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS cb1,
              sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS ct1
       FROM doc_bigrams GROUP BY w1),
vocab AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM toksarr) u)
SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln((c12.ct12 + 1) * 1.0 / (c1.ct1 + vocab.v))
                 - ln((c12.cb12 + 1) * 1.0 / (c1.cb1 + vocab.v))), {LM_ROUND}) AS log_ratio
FROM doc_bigrams b
JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
JOIN c1 ON b.w1 = c1.w1
CROSS JOIN vocab
GROUP BY b.doc_id
"""


def lang_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, p10, p50, p90): per-language token-length quantiles —
    the profile a length-filter curation rule is calibrated from (length
    cutoffs are language-dependent: ideographic scripts tokenize shorter).
    Exact interpolated percentiles per group (bounded group count = #langs);
    at 100 TB swap ``percentile`` for ``approx_percentile`` exactly as
    ``lineitem_price_stats_approx`` demonstrates, same plan otherwise."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    n = F.expr(f"size({TOKENS})")
    return (
        docs.select("lang", n.alias("n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.expr("percentile(n, 0.1)"), 4).alias("p10"),
            F.round(F.expr("percentile(n, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(n, 0.9)"), 4).alias("p90"),
        )
    )


LANG_LENGTH_QUANTILES_ORACLE = f"""
SELECT lang, count(*) AS n_docs,
       round(quantile_cont(len({TOKENS}), 0.1), 4) AS p10,
       round(quantile_cont(len({TOKENS}), 0.5), 4) AS p50,
       round(quantile_cont(len({TOKENS}), 0.9), 4) AS p90
FROM documents GROUP BY lang
"""


# --------------------------------------------------------------------------- #
# Zipf rank-frequency profile (corpus health report)
# --------------------------------------------------------------------------- #

ZIPF_TOP = 100


def token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rank, term, freq): the corpus's top-100 rank-frequency table — the
    standard Zipf curve a corpus health check starts from (natural text
    follows freq ~ rank^-s with s near 1; a synthetic or boilerplate-heavy
    corpus visibly doesn't). One explode + one hash-agg shuffle, then a
    plan-level top-k (the 100-row rank window runs AFTER the limit, so the
    single-task window touches 100 rows at any corpus size)."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    counts = (
        docs.select(F.explode(F.expr(TOKENS)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(ZIPF_TOP)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    return counts.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "term", "freq"
    )


TOKEN_ZIPF_ORACLE = f"""
WITH counts AS (
  SELECT unnest({TOKENS}) AS term
  FROM documents
),
ranked AS (
  SELECT term, CAST(count(*) AS BIGINT) AS freq
  FROM counts GROUP BY term
)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, term ASC) AS BIGINT) AS rank,
       term, freq
FROM ranked
ORDER BY freq DESC, term ASC
LIMIT {ZIPF_TOP}
"""


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shingles, novel_share): per document, the fraction of its
    DISTINCT word trigrams that appear in NO other document — the novelty
    spectrum a curation pass reads alongside pairwise dedup (novel_share
    ≈ 1: unique content; ≈ 0: assembled entirely from corpus-shared
    n-grams — templates, quote mosaics, spun text — even when no single
    pairwise near-dup fires). Complements train_eval_contamination (which
    is cross-SPLIT) and dedup (which is pairwise): this is the per-doc
    marginal. Shingle sharedness counts DISTINCT doc_ids, so duplicate
    ids and within-doc repetition (already array_distinct'd) cannot
    deflate novelty. Scale shape: one hash aggregation per shingle type
    (Zipf keys collapse map-side) and one equi-join back to the shingle
    stream — join output is exactly the input stream size, never
    quadratic; final per-doc aggregation is integer counts with one
    rounded division."""
    from tf_idf_using_mapreduce_spark.operators.dedup import _shingles

    # row-level distinct mirrors the oracle's DISTINCT shingle stream: under
    # duplicate doc_ids (fuzz-legal) the per-row shingle arrays would
    # otherwise double-count a doc's own shingles in n_shingles
    sh = _shingles(spark, sf_dir).distinct().localCheckpoint(eager=False)
    nd = sh.groupBy("shingle").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        sh.join(nd, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum((F.col("nd") == 1).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                LM_ROUND,
            ).alias("novel_share"),
        )
    )


def ngram_novelty_oracle() -> str:
    from tf_idf_using_mapreduce_spark.operators.dedup import _SHINGLES_SQL

    return f"""
WITH sh AS ({_SHINGLES_SQL}),
nd AS (SELECT shingle, count(DISTINCT doc_id) AS nd FROM sh GROUP BY shingle)
SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       round(sum(CASE WHEN nd.nd = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), {LM_ROUND}) AS novel_share
FROM sh JOIN nd ON nd.shingle = sh.shingle
GROUP BY sh.doc_id
"""


DRIFT_TOP = 50


def token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, p_a, p_b, js_term): term-distribution DRIFT between two corpus
    snapshots — the monitoring check a continuously-crawling pipeline runs
    before every release (a shifted token distribution means the crawl mix
    changed, the tokenizer regressed, or a source went rogue). Snapshot
    proxy: doc_id parity (even = "previous crawl" A, odd = "current" B) —
    in production the two sides are two partition predicates on the same
    layout. Over the global top-``DRIFT_TOP`` terms, each side's
    Laplace-smoothed frequency and the term's Jensen-Shannon divergence
    contribution (natural log): js = ½ pₐ ln(pₐ/m) + ½ p_b ln(p_b/m),
    m = (pₐ+p_b)/2. Output is PER-TERM — summing the K contributions is
    the scalar JS, but the per-term table is what you debug from, and
    emitting it keeps every float a single-expression value (no cross-term
    float sum anywhere — engine-order-proof by construction).

    Scale shape: ONE conditional aggregation builds both sides' counts
    (the dsir pattern), a plan-level top-K (TakeOrderedAndProject) bounds
    the working set at K rows, and the side totals are an aggregate over
    those K rows broadcast back — everything after the single token
    shuffle is metadata-sized."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = spread(docs).select(
        (F.col("doc_id") % 2 == 0).alias("in_a"),
        F.explode(F.expr(TOKENS)).alias("term"),
    )
    # count(when(...)) not sum(cast(...)): a term whose every occurrence
    # has unknown parity (NULL doc_id) must count 0, not NULL — sum over
    # an all-NULL group is NULL on Spark while the oracle's CASE-sum is 0
    # (pinned by the NULL-doc_id dialect test)
    counts = (
        toks.groupBy("term")
        .agg(
            F.count(F.when(F.col("in_a"), True)).alias("ca"),
            F.count(F.when(~F.col("in_a"), True)).alias("cb"),
        )
        .withColumn("total", F.col("ca") + F.col("cb"))
        .orderBy(F.desc("total"), F.asc("term"))
        .limit(DRIFT_TOP)
    )
    tot = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
        F.count(F.lit(1)).alias("k"),
    )
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + F.col("k")).cast("double")
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + F.col("k")).cast("double")
    m = (pa + pb) / F.lit(2).cast("double")
    js = F.lit(0.5) * pa * F.log(pa / m) + F.lit(0.5) * pb * F.log(pb / m)
    return counts.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(pa, LM_ROUND).alias("p_a"),
        F.round(pb, LM_ROUND).alias("p_b"),
        F.round(js, LM_ROUND + 3).alias("js_term"),
    )


TOKEN_DRIFT_ORACLE = f"""
WITH toks AS (
  SELECT (doc_id % 2 = 0) AS in_a,
         unnest({TOKENS}) AS term
  FROM documents
),
counts AS (
  -- the B-side predicate is NOT in_a, not ELSE: a NULL doc_id makes in_a
  -- NULL, and ELSE-counting would silently bucket unknown-snapshot rows
  -- into B while the Spark side (sum over a NULL-propagating cast)
  -- counts them in neither — unknown stays unknown on both engines
  SELECT term,
         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM toks GROUP BY term
  ORDER BY ca + cb DESC, term ASC
  LIMIT {DRIFT_TOP}
),
tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
               count(*) AS k
        FROM counts),
p AS (
  SELECT term,
         CAST(ca + 1 AS DOUBLE) / CAST(na + k AS DOUBLE) AS pa,
         CAST(cb + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE) AS pb
  FROM counts, tot
)
SELECT term,
       round(pa, {LM_ROUND}) AS p_a,
       round(pb, {LM_ROUND}) AS p_b,
       round(0.5 * pa * ln(pa / ((pa + pb) / CAST(2 AS DOUBLE)))
             + 0.5 * pb * ln(pb / ((pa + pb) / CAST(2 AS DOUBLE))),
             {LM_ROUND + 3}) AS js_term
FROM p
"""


def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(slope, n_terms): least-squares slope of ln(freq) on ln(rank) over
    the top-100 table — the one-number Zipf exponent estimate (natural
    corpora sit near -1). Rides entirely on :func:`token_zipf`'s plan plus
    a single 100-row regression aggregate."""
    return token_zipf(spark, sf_dir).agg(
        F.round(F.expr("regr_slope(ln(freq), ln(rank))"), 6).alias("slope"),
        F.count(F.lit(1)).alias("n_terms"),
    )


ZIPF_SLOPE_ORACLE = f"""
WITH counts AS (
  SELECT unnest({TOKENS}) AS term
  FROM documents
),
ranked AS (
  SELECT term, count(*) AS freq FROM counts GROUP BY term
),
top AS (
  SELECT CAST(row_number() OVER (ORDER BY freq DESC, term ASC) AS BIGINT) AS rank, freq
  FROM ranked ORDER BY freq DESC, term ASC LIMIT {ZIPF_TOP}
)
SELECT round(regr_slope(ln(freq), ln(rank)), 6) AS slope,
       CAST(count(*) AS BIGINT) AS n_terms
FROM top
"""


# --------------------------------------------------------------------------- #
# fixed-weight quality classifier (model-based filtering, declaratively)
# --------------------------------------------------------------------------- #

# interpretable logistic over the quality features — the fastText-style
# "model-based quality filter" seam, expressed declaratively so ANY engine
# scores identically (a trained model would only change these constants)
QC_W = {"bias": -2.0, "log_len": 0.9, "stop": 2.0, "mtl": -0.15, "alpha": 1.2}
QC_THRESHOLD = 0.5


def _qc_z(n_tok: str, stop_ratio: str, mtl: str, alpha: str,
          w: dict | None = None) -> str:
    w = QC_W if w is None else w
    return (
        f"({w['bias']} + {w['log_len']} * ln(1 + {n_tok})"
        f" + {w['stop']} * {stop_ratio} + {w['mtl']} * {mtl}"
        f" + {w['alpha']} * {alpha})"
    )


def _qc_prob_expr(duck: bool, weights: dict | None = None) -> str:
    """The classifier's probability expression STRING in either dialect —
    the single source of truth for the feature tree (length, stopword
    share, mean token length, alphabetic share → sigmoid). Shared by
    :func:`quality_classifier_df` / :func:`quality_classifier_oracle` AND
    the per-source rollup, so a weight or feature change can never
    silently diverge between the classifier and its consumers."""
    if duck:
        n_tok = f"len({TOKENS})"
        n_stop = _count_in_list_duck(TOKENS, _QUALITY_STOPS)
        stop_ratio = f"(CAST({n_stop} AS DOUBLE) / greatest({n_tok}, 1))"
        # list_sum quirk: NULL for BOTH empty and NULL lists — the CASE
        # keeps NULL text NULL while empty text folds to 0 (Spark's 0-seed)
        mtl = (
            f"(CASE WHEN {TOKENS} IS NULL THEN NULL"
            f" ELSE coalesce(list_sum(list_transform({TOKENS}, t -> length(t))), 0) END * 1.0"
            f" / greatest({n_tok}, 1))"
        )
        alpha = (
            "(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)"
            " / greatest(length(text), 1))"
        )
    else:
        n_tok = f"size({TOKENS})"
        n_stop = _count_in_list(TOKENS, _QUALITY_STOPS)
        stop_ratio = f"(cast({n_stop} as double) / greatest({n_tok}, 1))"
        mtl = (
            f"(aggregate({TOKENS}, cast(0 as double), (acc, t) -> acc + length(t))"
            f" / greatest({n_tok}, 1))"
        )
        alpha = (
            "(cast(length(regexp_replace(lower(text), '[^a-z]', '')) as double)"
            " / greatest(length(text), 1))"
        )
    return (
        f"round(1.0 / (1.0 + exp(-{_qc_z(n_tok, stop_ratio, mtl, alpha, weights)})),"
        f" {QUALITY_ROUND})"
    )


def quality_classifier_df(docs: DataFrame,
                          weights: dict | None = None) -> DataFrame:
    """Expression form of :func:`quality_classifier` over any
    (doc_id, text) frame — reused verbatim by the composed pretraining
    pipeline. ``weights`` is the MODEL-SWAP SEAM: a trained logistic drops
    in as a different constant dict and the plan is bit-identical in shape
    (same single codegen projection, zero shuffle) — pinned by
    tests/test_textstats.py."""
    prob = _qc_prob_expr(duck=False, weights=weights)
    return docs.select(
        "doc_id",
        F.expr(prob).alias("quality_prob"),
        F.expr(
            f"CASE WHEN {prob} IS NULL THEN NULL"
            f" WHEN {prob} >= {QC_THRESHOLD} THEN 'keep' ELSE 'drop' END"
        ).alias("quality_label"),
    )


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quality_prob, quality_label): sigmoid of a fixed-weight
    logistic over length / stopword-share / token-length / alphabetic-share
    features — model-based quality filtering as a PURE expression (map-only,
    codegen, zero shuffle at any corpus size). Swapping in trained weights
    changes constants, not the plan. NULL text scores NULL (unknown stays
    unknown, the corpus-wide contract)."""
    return quality_classifier_df(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def quality_classifier_oracle() -> str:
    prob = _qc_prob_expr(duck=True)
    return f"""
SELECT doc_id, {prob} AS quality_prob,
       CASE WHEN {prob} IS NULL THEN NULL
            WHEN {prob} >= {QC_THRESHOLD} THEN 'keep' ELSE 'drop' END AS quality_label
FROM documents
"""


# --------------------------------------------------------------------------- #
# one-stop corpus summary (the DESCRIBE of the documents table)
# --------------------------------------------------------------------------- #

def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single row (n_docs, n_null_text, total_tokens, vocab_size,
    mean_tokens, n_sources, n_langs, exact_dup_docs): the first report any
    corpus intake runs. One scan feeds the row-level aggregates; the
    distinct-token and duplicate counts are each one additional shuffle on
    a uniform key (term / content hash) — nothing quadratic, nothing
    collected. mean rounds at 4dp over an integer ratio (no float-sum
    ordering: total_tokens is an exact bigint)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("CASE WHEN text IS NULL THEN 1 ELSE 0 END")).alias("n_null_text"),
        F.sum(F.expr(f"coalesce(size({TOKENS}), 0)")).alias("total_tokens"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
    )
    vocab = (
        docs.select(F.explode(F.expr(TOKENS)).alias("t"))
        .agg(F.count_distinct("t").alias("vocab_size"))
    )
    dups = (
        docs.where(F.col("text").isNotNull())
        .groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("c - 1")).alias("exact_dup_docs"))
    )
    return (
        base.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(dups))
        .select(
            "n_docs", "n_null_text", "total_tokens", "vocab_size",
            F.expr("round(total_tokens / cast(greatest(n_docs - n_null_text, 1) as double), 4)")
            .alias("mean_tokens"),
            "n_sources", "n_langs",
            F.expr("coalesce(exact_dup_docs, 0)").alias("exact_dup_docs"),
        )
    )


CORPUS_STATS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, text, lang, source,
         {TOKENS} AS tk
  FROM documents
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
         CAST(sum(coalesce(len(tk), 0)) AS BIGINT) AS total_tokens,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM toks
),
vocab AS (
  SELECT CAST(count(DISTINCT t) AS BIGINT) AS vocab_size
  FROM (SELECT unnest(tk) AS t FROM toks)
),
dups AS (
  SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS exact_dup_docs
  FROM (SELECT count(*) AS c FROM documents WHERE text IS NOT NULL GROUP BY md5(text))
)
SELECT n_docs, n_null_text, total_tokens, vocab_size,
       round(total_tokens / CAST(greatest(n_docs - n_null_text, 1) AS DOUBLE), 4)
         AS mean_tokens,
       n_sources, n_langs, exact_dup_docs
FROM base, vocab, dups
"""


# --------------------------------------------------------------------------- #
# per-source quality rollup (mixture-decision input)
# --------------------------------------------------------------------------- #

def source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_langs, mean_quality, keep_share, dup_docs): the
    per-SOURCE intake report a mixture designer reads before setting
    sampling weights — corpus share, language breadth, model-based quality
    mass (mean prob + share passing the keep gate), and how much of the
    source is exact-duplicated text ANYWHERE in the corpus (boilerplate-
    heavy sources show up here first). Composes the registered quality
    expression (:func:`quality_classifier_df`'s feature tree, inlined so
    source/lang ride the same scan) with the dedup_exact hash census.

    Scale shape: ONE scan computes md5 + quality per row, lineage-CUT so
    the census branch and the join probe don't each re-scan and re-evaluate
    the feature tree (the ``_word_counts`` discipline — the plan audit
    showed two full text scans without it); the hash census is the same
    groupBy as ``dedup_exact``; the flag-back join shuffles on the hash;
    the final rollup is one hash aggregation with O(sources) output. NULL
    text scores NULL quality (excluded from the means, counted in n_docs)
    and has a NULL hash — LEFT join semantics keep those rows (NULL keys
    never match in either engine), dup_docs counts them as unduplicated."""
    base = load_table(spark, sf_dir, "documents").select(
        "lang", "source",
        F.md5("text").alias("h"),
        F.expr(_qc_prob_expr(duck=False)).alias("q"),
    ).localCheckpoint(eager=False)
    hc = base.groupBy("h").agg(F.count(F.lit(1)).alias("hc"))
    return (
        base.join(hc, "h", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(F.avg("q"), QUALITY_ROUND).alias("mean_quality"),
            F.round(
                F.avg(
                    F.expr(
                        # cast: bare 1.0/0.0 literals are DECIMAL in Spark
                        # SQL (avg would come back Decimal, not float64)
                        f"CASE WHEN q >= {QC_THRESHOLD} THEN cast(1.0 as double) "
                        "WHEN q IS NOT NULL THEN cast(0.0 as double) END"
                    )
                ),
                QUALITY_ROUND,
            ).alias("keep_share"),
            F.sum(
                F.expr("CASE WHEN hc > 1 THEN 1 ELSE 0 END")
            ).alias("dup_docs"),
        )
    )


def source_quality_rollup_oracle() -> str:
    prob = _qc_prob_expr(duck=True)
    return f"""
WITH base AS (
  SELECT lang, source, md5(text) AS h, {prob} AS q FROM documents
),
hc AS (SELECT h, count(*) AS hc FROM base GROUP BY h)
SELECT b.source,
       count(*) AS n_docs,
       CAST(count(DISTINCT b.lang) AS BIGINT) AS n_langs,
       round(avg(b.q), {QUALITY_ROUND}) AS mean_quality,
       round(avg(CASE WHEN b.q >= {QC_THRESHOLD} THEN 1.0
                      WHEN b.q IS NOT NULL THEN 0.0 END), {QUALITY_ROUND}) AS keep_share,
       CAST(sum(CASE WHEN c.hc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
FROM base b LEFT JOIN hc c ON c.h = b.h
GROUP BY b.source
"""
