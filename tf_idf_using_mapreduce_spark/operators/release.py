"""Dataset-release operators (round 6): the steps between a curated corpus
and a published training dataset — deterministic train/val/test assignment,
a near-dup split-leakage audit, the token-budget mixture plan (sampling
rates + epochs per source), and the per-source dataset card.

These close the release end of the pipeline the way ``pretrain.py`` closed
the packing end: every operator is a declarative DataFrame query with a
DuckDB oracle, and the leakage audit is a structural VALUE CHECK (content-
hash splitting makes same-text leakage impossible by construction, and the
oracle pins that invariant at 0).

Scale notes (100 TB):
- ``train_val_test_split`` is MAP-ONLY: the split is a pure hash of the
  document CONTENT (not doc_id), so byte-identical duplicates land in the
  same split no matter which ids they carry — assignment survives re-ingest,
  re-partitioning, and id reassignment, and no shuffle runs at any size.
- ``split_leakage`` rides the banded-LSH candidate machinery
  (``dedup.dedup_minhash_lsh``) — hot-bucket caps included — plus one
  broadcast-sized aggregate; nothing quadratic.
- ``mixture_plan`` / ``dataset_card`` aggregate to O(sources) rows with one
  shuffle each on uniform keys (source / content hash); every per-source
  statistic is an exact integer (no float sum can wobble under partial
  aggregation order — the file-wide discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.text import TOKENS
from tf_idf_using_mapreduce_spark.operators.curation import (
    PII_DIGITRUN,
    PII_EMAIL,
    PII_IPV4,
)
from tf_idf_using_mapreduce_spark.sources.corpus import load_table


# content-hash split: bucket = md5('split:' || text) % 100. Salted so the
# split hash is independent of every other content hash in the engine
# (dedup, shuffle, mixture all use different salts/keys).
SPLIT_SALT = "split"
SPLIT_TRAIN_END = 90   # buckets [0, 90) -> train
SPLIT_VAL_END = 95     # buckets [90, 95) -> val, [95, 100) -> test


def split_assignment_df(docs: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """(doc_id, bucket, split[, extras]) over any (doc_id, text) frame. The
    split is a hash of the CONTENT: identical texts always co-assign
    (re-ingested duplicates cannot straddle train/test), NULL text stays NULL
    (unknown stays unknown — the corpus-wide contract). Map-only at any
    scale. ``extra_cols``: additional column expressions evaluated in the
    SAME projection (so a caller needing e.g. ``md5(text)`` alongside the
    split doesn't re-scan or self-join the corpus — r16 split_leakage)."""
    bucket = (
        f"cast(conv(substr(md5(concat('{SPLIT_SALT}:', text)), 1, 8), 16, 10) as bigint)"
        " % 100"
    )
    return docs.select(
        "doc_id",
        *extra_cols,
        F.expr(bucket).alias("bucket"),
        F.expr(
            f"CASE WHEN text IS NULL THEN NULL"
            f" WHEN {bucket} < {SPLIT_TRAIN_END} THEN 'train'"
            f" WHEN {bucket} < {SPLIT_VAL_END} THEN 'val'"
            f" ELSE 'test' END"
        ).alias("split"),
    )


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bucket, split): deterministic content-hash 90/5/5 split of
    the documents table — see :func:`split_assignment_df`."""
    return split_assignment_df(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


_SPLIT_BUCKET_DUCK = (
    f"CAST(('0x' || substr(md5('{SPLIT_SALT}:' || text), 1, 8)) AS BIGINT) % 100"
)

TRAIN_VAL_TEST_SPLIT_ORACLE = f"""
SELECT doc_id, {_SPLIT_BUCKET_DUCK} AS bucket,
       CASE WHEN text IS NULL THEN NULL
            WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_TRAIN_END} THEN 'train'
            WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_VAL_END} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_pairs, n_cross, n_same_hash_cross): the pre-release leakage audit
    — of all near-dup pairs (banded LSH + exact Jaccard ≥ 0.8, the
    registered ``dedup_minhash_lsh``), how many straddle two different
    splits (``n_cross`` — eval contamination a release must report), and
    how many of THOSE are byte-identical texts (``n_same_hash_cross`` —
    structurally IMPOSSIBLE under content-hash splitting, so the oracle
    pins it at 0; a nonzero value means the split function broke). One
    extra broadcast-sized join over the dedup candidates; the quadratic
    work is the capped LSH machinery itself.

    r16 (guide §2.4 "remove shuffles outright"): ``assign`` used to be a
    SELF-JOIN of two scans of the documents table (the split projection
    joined back to an md5 projection on doc_id) — one projection computes
    both columns, so the join, its exchanges, and the second corpus scan
    are gone; values are the identical expressions. The frame is
    lineage-cut because both pair sides consume it (two md5-per-text
    passes otherwise)."""
    from tf_idf_using_mapreduce_spark.operators.dedup import dedup_minhash_lsh

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assign = (
        split_assignment_df(docs, extra_cols=(F.md5("text").alias("h"),))
        .select("doc_id", "split", "h")
        .localCheckpoint(eager=False)
    )
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    a = assign.select(
        F.col("doc_id").alias("doc_a"),
        F.col("split").alias("split_a"),
        F.col("h").alias("h_a"),
    )
    b = assign.select(
        F.col("doc_id").alias("doc_b"),
        F.col("split").alias("split_b"),
        F.col("h").alias("h_b"),
    )
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    cross = (F.col("split_a") != F.col("split_b")).cast("long")
    same_hash_cross = (
        (F.col("split_a") != F.col("split_b")) & (F.col("h_a") == F.col("h_b"))
    ).cast("long")
    # coalesce: a pair-free corpus must report (0, 0, 0), not NULLs (the
    # oracle's coalesce does the same)
    return joined.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(F.sum(cross), F.lit(0)).alias("n_cross"),
        F.coalesce(F.sum(same_hash_cross), F.lit(0)).alias("n_same_hash_cross"),
    )


def split_leakage_oracle() -> str:
    from tf_idf_using_mapreduce_spark.operators.dedup import MINHASH_LSH_ORACLE

    return f"""
WITH pairs AS ({MINHASH_LSH_ORACLE}),
assign AS (SELECT doc_id, md5(text) AS h,
                  CASE WHEN text IS NULL THEN NULL
                       WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_TRAIN_END} THEN 'train'
                       WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_VAL_END} THEN 'val'
                       ELSE 'test' END AS split
           FROM documents),
joined AS (SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b,
                  a.h AS h_a, b.h AS h_b
           FROM pairs p
           JOIN assign a ON a.doc_id = p.doc_a
           JOIN assign b ON b.doc_id = p.doc_b)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(coalesce(sum(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_cross,
       CAST(0 AS BIGINT) AS n_same_hash_cross
FROM joined
"""


def split_leakage_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split_a, split_b, n_pairs, max_cos): the SEMANTIC leakage audit —
    near-neighbor pairs in EMBEDDING space censused by the split pair they
    land in. Textual :func:`split_leakage` catches paraphrase-free overlap
    (shingles); this catches what it structurally can't: rewordings and
    translations whose embeddings stay close while their n-grams share
    nothing — the leakage modality that actually inflates eval scores on a
    released split. Candidates come from shared sign-LSH buckets (the
    engine's standard vector blocking: one groupBy on the 8-bit sign key,
    pair expansion over the id-deduped sorted member list, hot buckets
    capped and the cap mirrored in the oracle — candidate volume
    Σ min(bucket, cap)², never n²); pairs at cosine ≥ the near-dup
    threshold join the content-hash split assignment on doc_id = vec_id.
    Docs with NULL split (NULL text) are excluded — unknown stays unknown.
    The output is O(split²) rows: (ordered split pair, pair count, max
    cosine observed), the table a release datasheet prints."""
    from tf_idf_using_mapreduce_spark.operators.dedup import (
        _drop_hot_buckets,
        _ordered_pairs_expr,
    )
    from tf_idf_using_mapreduce_spark.operators.similarity import (
        KNN_LSH_BUCKET_CAP,
        NEARDUP_COS_THRESHOLD,
        _sign_bucket_spark,
        _vectors,
    )
    from tf_idf_using_mapreduce_spark.functions.vectors import spark_cos

    vecs = (
        _vectors(spark, sf_dir)
        .withColumn("bucket", F.expr(_sign_bucket_spark("v")))
        .localCheckpoint(eager=False)
    )
    banded = _drop_hot_buckets(
        vecs.select("bucket", "vec_id"), ["bucket"], KNN_LSH_BUCKET_CAP
    )
    cand = (
        banded.groupBy("bucket")
        .agg(F.expr("array_sort(array_distinct(collect_list(vec_id)))").alias("ds"))
        .where(F.size("ds") >= 2)
        .select(F.explode(F.expr(_ordered_pairs_expr("ds"))).alias("p"))
        .select(F.col("p.doc_a").alias("vec_a"), F.col("p.doc_b").alias("vec_b"))
        .distinct()
    )
    sa = vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                     F.col("nrm").alias("na"))
    sb = vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                     F.col("nrm").alias("nb"))
    near = (
        cand.join(sa, "vec_a").join(sb, "vec_b")
        .select(
            "vec_a", "vec_b",
            spark_cos("va", "vb", "na", "nb").alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= NEARDUP_COS_THRESHOLD)
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assign = split_assignment_df(docs).where(F.col("split").isNotNull()).select(
        "doc_id", "split"
    )
    a = assign.select(F.col("doc_id").alias("vec_a"), F.col("split").alias("sa"))
    b = assign.select(F.col("doc_id").alias("vec_b"), F.col("split").alias("sb"))
    return (
        near.join(a, "vec_a").join(b, "vec_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            "cos_sim",
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("cos_sim").alias("max_cos"),
        )
    )


def split_leakage_semantic_oracle() -> str:
    from tf_idf_using_mapreduce_spark.operators.similarity import (
        KNN_LSH_BUCKET_CAP,
        NEARDUP_COS_THRESHOLD,
        _sign_bucket_duck,
    )
    from tf_idf_using_mapreduce_spark.functions.vectors import (
        duck_cast_double,
        duck_cos,
        duck_norm,
    )

    return f"""
WITH e AS (SELECT vec_id, {duck_cast_double('embedding')} AS v,
                  {duck_norm(duck_cast_double('embedding'))} AS nrm
           FROM embeddings WHERE nrm > 0),
b AS (SELECT *, {_sign_bucket_duck('v')} AS bucket FROM e),
hot AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) > {KNN_LSH_BUCKET_CAP}),
cold AS (SELECT * FROM b bb
         WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.bucket = bb.bucket)),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM cold x JOIN cold y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
),
near AS (
  SELECT c.vec_a, c.vec_b,
         {duck_cos('ea.v', 'eb.v', 'ea.nrm', 'eb.nrm')} AS cos_sim
  FROM cand c
  JOIN e ea ON ea.vec_id = c.vec_a
  JOIN e eb ON eb.vec_id = c.vec_b
  WHERE {duck_cos('ea.v', 'eb.v', 'ea.nrm', 'eb.nrm')}
        >= {NEARDUP_COS_THRESHOLD}
),
assign AS (SELECT doc_id,
                  CASE WHEN text IS NULL THEN NULL
                       WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_TRAIN_END} THEN 'train'
                       WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_VAL_END} THEN 'val'
                       ELSE 'test' END AS split
           FROM documents),
labeled AS (
  SELECT least(a.split, bb.split) AS split_a,
         greatest(a.split, bb.split) AS split_b,
         n.cos_sim
  FROM near n
  JOIN assign a ON a.doc_id = n.vec_a AND a.split IS NOT NULL
  JOIN assign bb ON bb.doc_id = n.vec_b AND bb.split IS NOT NULL
)
SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
       max(cos_sim) AS max_cos
FROM labeled
GROUP BY split_a, split_b
"""


# --------------------------------------------------------------------------- #
# token-budget mixture plan (sampling rates + epochs per source)
# --------------------------------------------------------------------------- #

# named target weights for the headline sources; every other source shares
# the remaining mass equally. A trained data recipe would change these
# constants, not the plan (same seam discipline as the quality classifier).
MIXTURE_TARGETS = {"src0": 0.30, "src1": 0.20, "src2": 0.10}
# integer-percent twin of MIXTURE_TARGETS: the named mass is summed in exact
# integer hundredths (never a float sum — engine-order-proof), and weights
# only become double via correctly-rounded division (pct/100.0 == the double
# literal bit-for-bit, so the output is unchanged where it was right before)
_MIXTURE_PCT = {k: round(v * 100) for k, v in MIXTURE_TARGETS.items()}
assert all(abs(_MIXTURE_PCT[k] / 100 - v) < 1e-12 for k, v in MIXTURE_TARGETS.items())
RATE_ROUND = 6


def mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_tokens, target_weight, sample_rate, epochs): the
    data recipe a training run consumes — for each source, the sampling
    rate that hits its target token share of the ORIGINAL corpus token
    total, and the epoch count (repeat factor) when the target demands
    more tokens than the source has (rate > 1 ⇒ upsample by repetition,
    the standard Llama-recipe arithmetic). target_weight for sources not
    named in ``MIXTURE_TARGETS`` is the remaining mass split equally, where
    "remaining" is computed from the named sources ACTUALLY PRESENT in the
    data (an absent or token-less named source's mass redistributes to the
    unnamed pool rather than silently vanishing) — so the weights sum to 1
    whenever at least one unnamed source exists; if the census is
    named-only, they sum to the present named mass (nowhere to
    redistribute). One aggregate to O(sources) rows, then pure scalar
    arithmetic on the tiny table; the named mass is an exact INTEGER
    percent sum and every weight is one correctly-rounded double division
    (deterministic — no float SUM anywhere)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    per = (
        docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr(f"size({TOKENS})")).alias("n_tokens"),
        )
        # a token-less source cannot supply tokens at ANY rate: excluded
        # from the plan rather than dividing by zero (NULL-token sums —
        # all-NULL-text sources — fall out the same way)
        .where(F.col("n_tokens") > 0)
    )
    return _mixture_plan_of(per)


def _mixture_plan_of(per: DataFrame) -> DataFrame:
    """The recipe arithmetic of :func:`mixture_plan` over ANY
    (source, n_docs, n_tokens) census frame — the token BASIS is the
    caller's choice (word tokens for ``mixture_plan``, subword tokens for
    ``mixture_plan_bpe``), the weight/rate/epoch arithmetic is not."""
    named = list(sorted(MIXTURE_TARGETS))
    in_named = F.col("source").isin(named)
    pct_entries: list = []
    for k in named:
        pct_entries.extend([F.lit(k), F.lit(int(_MIXTURE_PCT[k]))])
    pct_map = F.create_map(*pct_entries)
    totals = per.agg(
        F.sum("n_tokens").alias("t_total"),
        F.sum(in_named.cast("long")).alias("n_named"),
        F.count(F.lit(1)).alias("n_sources"),
        # exact integer hundredths of the named sources PRESENT (post the
        # n_tokens > 0 filter) — an absent named source contributes nothing
        F.coalesce(
            F.sum(F.when(in_named, F.element_at(pct_map, F.col("source")))),
            F.lit(0),
        ).alias("named_pct"),
    )
    weight = F.coalesce(
        F.element_at(pct_map, F.col("source")).cast("double") / F.lit(100).cast("double"),
        (F.lit(100) - F.col("named_pct")).cast("double") / F.lit(100).cast("double")
        / (F.col("n_sources") - F.col("n_named")).cast("double"),
    )
    rate = weight * F.col("t_total").cast("double") / F.col("n_tokens").cast("double")
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(weight, RATE_ROUND).alias("target_weight"),
            F.round(rate, RATE_ROUND).alias("sample_rate"),
            F.greatest(F.lit(1), F.ceil(rate)).cast("long").alias("epochs"),
        )
    )


def _mixture_tail_sql() -> str:
    """The recipe-arithmetic tail of the mixture oracles, downstream of a
    ``per(source, n_docs, n_tokens)`` CTE — shared by the word-token and
    BPE-token plans (the SQL twin of :func:`_mixture_plan_of`)."""
    named = sorted(MIXTURE_TARGETS)
    in_list = ", ".join(f"'{k}'" for k in named)
    pct_cases = " ".join(
        f"WHEN source = '{k}' THEN {_MIXTURE_PCT[k]}" for k in named
    )
    w_cases = " ".join(
        f"WHEN source = '{k}' THEN CAST({_MIXTURE_PCT[k]} AS DOUBLE) / CAST(100 AS DOUBLE)"
        for k in named
    )
    return f"""
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total,
         sum(CASE WHEN source IN ({in_list}) THEN 1 ELSE 0 END) AS n_named,
         count(*) AS n_sources,
         coalesce(sum(CASE {pct_cases} ELSE NULL END), 0) AS named_pct
  FROM per
),
wt AS (
  SELECT per.*, tot.t_total,
         CASE {w_cases}
              ELSE CAST(100 - named_pct AS DOUBLE) / CAST(100 AS DOUBLE)
                   / CAST(n_sources - n_named AS DOUBLE)
         END AS weight
  FROM per, tot
)
SELECT source, n_docs, n_tokens,
       round(weight, {RATE_ROUND}) AS target_weight,
       round(weight * CAST(t_total AS DOUBLE) / CAST(n_tokens AS DOUBLE),
             {RATE_ROUND}) AS sample_rate,
       CAST(greatest(1, ceil(weight * CAST(t_total AS DOUBLE)
                             / CAST(n_tokens AS DOUBLE))) AS BIGINT) AS epochs
FROM wt
"""


def mixture_plan_oracle() -> str:
    return f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({TOKENS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
  HAVING sum(len({TOKENS})) > 0
),
{_mixture_tail_sql()}
"""


def mixture_plan_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_tokens, target_weight, sample_rate, epochs):
    :func:`mixture_plan` with the per-source token census measured in BPE
    SUBWORD tokens — the unit a pretraining run's token budget is actually
    denominated in (r10 verdict: the word-token plan under-budgets every
    source by its fertility, and fertility VARIES by source, so the word
    plan's sample rates are not just scaled — they're mis-ranked wherever
    vocabulary richness differs). Same weight/rate/epoch arithmetic
    (:func:`_mixture_plan_of`), same oracle tail; only the census differs:
    ONE full text scan folds the word stream to (source, word, n) —
    vocabulary×sources-sized, lineage-CUT per the ``_word_counts``
    discipline so the dictionary branch and the pricing probe don't each
    re-scan the corpus — then the broadcast BPE dictionary prices each
    distinct word once (segmentation stays Heaps-bounded, never
    corpus-sized). Documents with no words contribute no tokens but still
    count in n_docs, via a second aggregate over a source-column-only scan
    (column pruning makes it footer-cheap)."""
    from tf_idf_using_mapreduce_spark.operators.bpe import bpe_dictionary_of

    docs = load_table(spark, sf_dir, "documents")
    swc = (
        docs.select("source", F.explode(F.expr(TOKENS)).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    dic = bpe_dictionary_of(swc).select("word", "k")
    per_tok = (
        swc.join(F.broadcast(dic), "word")
        .groupBy("source")
        .agg(F.sum(F.col("n") * F.col("k")).cast("long").alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
    )
    n_docs = docs.select("source").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"))
    # null-SAFE equi-join (r11 advice): a NULL source is a real group in the
    # word-basis plan's plain groupBy, so the census join must not drop it —
    # a plain equi-join never matches NULL keys and would silently shrink
    # t_total and re-weight every unnamed source on dirty corpora
    # both census frames derive from the same `docs` lineage, so the join
    # condition needs string aliases to disambiguate the two `source` columns
    per = (
        n_docs.alias("nd")
        .join(per_tok.alias("pt"),
              F.col("nd.source").eqNullSafe(F.col("pt.source")))
        .select(F.col("nd.source").alias("source"), "n_docs", "n_tokens")
    )
    return _mixture_plan_of(per)


def mixture_plan_bpe_oracle() -> str:
    from tf_idf_using_mapreduce_spark.functions.bpe import bpe_seg_ctes

    return f"""
WITH RECURSIVE w AS (
  SELECT doc_id, source, unnest({TOKENS}) AS word FROM documents
),
wc AS (SELECT DISTINCT word FROM w),
{bpe_seg_ctes()},
sublen AS (SELECT word, len(syms) AS k FROM bpe_final),
per_tok AS (
  SELECT source, CAST(sum(k) AS BIGINT) AS n_tokens
  FROM w JOIN sublen USING (word)
  GROUP BY source HAVING sum(k) > 0
),
nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
per AS (
  SELECT nd.source, nd.n_docs, pt.n_tokens
  FROM nd JOIN per_tok pt ON pt.source IS NOT DISTINCT FROM nd.source
),
{_mixture_tail_sql()}
"""


def mixture_plan_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_tokens, target_weight, sample_rate, epochs):
    :func:`mixture_plan` with the per-source census over EXACT-DEDUP
    SURVIVORS (keep-first md5 election, the ``dedup_exact`` contract) — the
    recipe the run should actually consume: raw token mass overweights any
    source whose bulk is duplicate boilerplate (crawl mirrors, syndicated
    text), so a raw-census plan assigns it a lower sample_rate than its
    UNIQUE content deserves and upsamples unique-heavy sources too little.
    Same weight/rate/epoch arithmetic (:func:`_mixture_plan_of`), same
    oracle tail; only the census input changes: one md5 hash census elects
    survivors (the ``release_manifest`` composition pattern), one
    doc_id semi-join keeps them, one aggregate to O(sources) rows. Scale
    shape: the dedup shuffle is the same uniform-key exchange
    ``dedup_exact`` pays; everything after is dimension-sized."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    survivors = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = docs.join(survivors, "doc_id")
    per = (
        kept.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr(f"size({TOKENS})")).alias("n_tokens"),
        )
        .where(F.col("n_tokens") > 0)
    )
    return _mixture_plan_of(per)


def mixture_plan_dedup_oracle() -> str:
    return f"""
WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
kept AS (SELECT d.doc_id, d.text, d.source FROM documents d JOIN surv USING (doc_id)),
per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({TOKENS})) AS BIGINT) AS n_tokens
  FROM kept GROUP BY source
  HAVING sum(len({TOKENS})) > 0
),
{_mixture_tail_sql()}
"""


# --------------------------------------------------------------------------- #
# composed release manifest (curate → dedup → split, per split × source)
# --------------------------------------------------------------------------- #

def release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split, source, n_docs, n_tokens): the per-split × per-source census
    of the RELEASED dataset — documents that survive the curation cascade
    and exact-dedup survivor election, assigned to train/val/test by
    content hash. The fourth end-to-end composition proof (after the two
    pretraining pipelines and the dataset card): each stage is the
    registered operator's own expression tree, the DuckDB oracle is the
    same CTE chain, and the whole curate→dedup→split lineage is
    value-checked down to exact token counts. Scale shape: map-only
    cascade + split, one uniform-key dedup shuffle, doc_id equi-joins at
    stage boundaries, one final aggregate to O(splits × sources) rows."""
    from tf_idf_using_mapreduce_spark.operators.curation import curation_decide

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    decisions = curation_decide(docs.select("doc_id", "text")).localCheckpoint(eager=False)
    kept = decisions.where(F.col("keep")).select("doc_id")
    kd = docs.join(kept, "doc_id")
    survivors = (
        kd.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # lineage cut (r16): the released-survivor frame feeds TWO branches (the
    # split assignment and the token census, re-joined below to preserve the
    # row-multiplicity contract under duplicate doc_ids) — without the cut
    # the cascade-join + md5-dedup shuffle + survivor join ran twice
    final = docs.join(survivors, "doc_id").localCheckpoint(eager=False)
    assigned = split_assignment_df(final.select("doc_id", "text")).select("doc_id", "split")
    return (
        final.select("doc_id", "source", F.expr(f"size({TOKENS})").alias("n_tok"))
        .join(assigned, "doc_id")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


def release_manifest_oracle() -> str:
    from tf_idf_using_mapreduce_spark.operators.curation import curation_filter_oracle

    return f"""
WITH kept AS (SELECT doc_id FROM ({curation_filter_oracle()}) c WHERE c.keep),
kd AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),
surv AS (SELECT min(doc_id) AS doc_id FROM kd GROUP BY md5(text)),
final AS (SELECT d.doc_id, d.text, d.source FROM documents d JOIN surv USING (doc_id)),
assigned AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL
              WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_TRAIN_END} THEN 'train'
              WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_VAL_END} THEN 'val'
              ELSE 'test' END AS split
  FROM final
)
SELECT a.split, f.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({TOKENS})) AS BIGINT) AS n_tokens
FROM final f JOIN assigned a USING (doc_id)
GROUP BY a.split, f.source
"""


# --------------------------------------------------------------------------- #
# per-source dataset card (the datasheet table of a release)
# --------------------------------------------------------------------------- #

def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_tokens, dup_docs, quality_keep, pii_docs,
    n_langs): the per-source datasheet every dataset release publishes —
    size, exact-duplicate mass, quality-classifier keeps, documents
    carrying PII shapes, language spread. COMPOSED from the registered
    operators' own expression trees (dedup_exact's hash groups, the
    quality classifier, the PII counters) joined on doc_id, then ONE
    aggregate to O(sources) rows — the third composition proof after the
    two pretraining pipelines. Every output is an exact integer, so no
    aggregation order can perturb it at any partition count."""
    from tf_idf_using_mapreduce_spark.operators.curation import pii_redaction_df
    from tf_idf_using_mapreduce_spark.operators.textstats import quality_classifier_df

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "lang"
    )
    h_counts = (
        docs.where(F.col("text").isNotNull())
        .groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("h_n"))
    )
    base = (
        docs.withColumn("h", F.md5("text"))
        .join(h_counts, "h", "left")
        .select(
            "doc_id", "source", "lang",
            F.expr(f"size({TOKENS})").alias("n_tok"),
            (F.col("text").isNotNull() & (F.col("h_n") > 1)).cast("long").alias("is_dup"),
        )
    )
    qc = quality_classifier_df(docs.select("doc_id", "text")).select(
        "doc_id", "quality_label"
    )
    pii = pii_redaction_df(docs.select("doc_id", "text")).select(
        "doc_id",
        (F.col("n_emails") + F.col("n_ips") + F.col("n_digitruns") > 0)
        .cast("long").alias("has_pii"),
    )
    return (
        base.join(qc, "doc_id").join(pii, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("is_dup").alias("dup_docs"),
            # count(when), not sum(cast): a NULL quality_label (NULL text)
            # must count as 0, matching the oracle's CASE…ELSE 0 — and an
            # all-NULL group must yield 0, not a NULL sum (the round-7
            # conditional-count discipline; found by the --nulls sweep)
            F.count(F.when(F.col("quality_label") == "keep", True)).alias("quality_keep"),
            F.sum(F.coalesce(F.col("has_pii"), F.lit(0))).alias("pii_docs"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )


def dataset_card_oracle() -> str:
    from tf_idf_using_mapreduce_spark.operators.curation import PII_REDACTION_ORACLE
    from tf_idf_using_mapreduce_spark.operators.textstats import quality_classifier_oracle

    return f"""
WITH hc AS (SELECT md5(text) AS h, count(*) AS h_n FROM documents
            WHERE text IS NOT NULL GROUP BY 1),
qc AS ({quality_classifier_oracle()}),
pii AS ({PII_REDACTION_ORACLE}),
base AS (
  SELECT d.doc_id, d.source, d.lang, len({TOKENS}) AS n_tok,
         CASE WHEN d.text IS NOT NULL AND hc.h_n > 1 THEN 1 ELSE 0 END AS is_dup
  FROM documents d LEFT JOIN hc ON md5(d.text) = hc.h
)
SELECT base.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(is_dup) AS BIGINT) AS dup_docs,
       CAST(sum(CASE WHEN qc.quality_label = 'keep' THEN 1 ELSE 0 END)
            AS BIGINT) AS quality_keep,
       CAST(sum(CASE WHEN pii.n_emails + pii.n_ips + pii.n_digitruns > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
       CAST(count(DISTINCT base.lang) AS BIGINT) AS n_langs
FROM base
JOIN qc ON qc.doc_id = base.doc_id
JOIN pii ON pii.doc_id = base.doc_id
GROUP BY base.source
"""
