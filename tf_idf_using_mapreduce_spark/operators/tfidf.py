"""Document Frequency + TF-IDF pipelines (SURVEY.md §2/§3, reference
``DocumentFreq.java`` + ``IDF.java``), Spark-first.

Physical shape (the plan we WANT at 100 TB, plan-asserted in
tests/test_harness.py and tests/test_tfidf.py):

- ONE Parquet scan with column pruning to (doc_id, text) — r15: both faces of
  TF-IDF (DF vocabulary + TF table) derive from a single materialized
  (doc_id, term, tf) counts aggregate (:func:`term_counts_of`), the same
  intermediate the reference itself persists between its two jobs
  (``README.md:14-18``);
- tokenize/stop-filter/stem entirely in whole-stage codegen (no Python);
- stems from the session's stem memo (:func:`stem_dictionary`): each distinct
  token is stemmed once per SparkContext, where the reference stems the
  corpus once per chained job (``DocumentFreq.java:69``, ``IDF.java:92``) —
  the memo records the token frames it covers, so a warm pass over an
  unchanged corpus runs no stem job at all and scans the corpus once;
- counts aggregation: partial+final ``HashAggregate`` on (doc_id, stem) (the
  stripes pattern, automatic — SURVEY.md §2.4 A2); DF = a count over the
  counts rows (≡ ``count(distinct doc_id)`` — each row is one distinct doc);
- top-100 as ``TakeOrderedAndProject`` (per-partition top-k, no global sort —
  replaces the reference's reducer-global TreeMap, ``DocumentFreq.java:78-107``);
- the ≤100-row DF table joined back with an explicit ``F.broadcast`` (the
  reference's replicated join via distributed cache, ``IDF.java:62-79,93,163``);
- score arithmetic on the joined counts (P10, ``IDF.java:164``:
  ``tf * ln(10000/(df+1))`` — natural log, corpus constant).

Intended semantics, not quirk Q1 (the reference over-counts TF by emitting the
accumulating stripe once per token, ``IDF.java:104``; SURVEY.md §2.11).

Scale notes: the classic "TF-IDF is two corpus passes" shape re-scanned the
(column-pruned) source once per face; r15 materializes the counts table
instead — corpus-scale SMALLER than the token stream (distinct stems per doc,
no text payload; locally a ``localCheckpoint``, at 100 TB a persisted table
between stages, exactly the reference's DF-TSV handoff). Skew: the counts agg
groups on (doc_id, stem) — doc_id spreads the Zipfian stem distribution, and
map-side partials collapse duplicates before the shuffle; the DF aggregate
then runs over counts rows, not token occurrences.
"""

from __future__ import annotations

import threading

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.porter import stem_sql_select, with_stem
from tf_idf_using_mapreduce_spark.functions.text import (
    TOKENS,
    explode_tokens,
    filter_stopwords,
    tokens_cte_duckdb,
    word_bigrams,
)
from tf_idf_using_mapreduce_spark.sources.corpus import file_signature, load_table, spread

DEFAULT_CORPUS_CONSTANT = 10000.0  # hardcoded corpus size in the reference score (IDF.java:164)
SCORE_ROUND = 6  # stabilize float hashing across engines

# the session's Porter stem memo (see stem_dictionary): (applicationId of the
# SparkContext it lives in, (token, stem) frame, the _frame_key of the last
# keyed token frame it is known to cover, or None), or None before the first
# call
_stem_memo: tuple[str, DataFrame, tuple[frozenset, JavaObject] | None] | None = None
_STEM_MEMO_LOCK = threading.Lock()


def _frame_key(df: DataFrame) -> tuple[frozenset, JavaObject] | None:
    """(input file signatures, analyzed plan) of a frame whose rows its
    plan and its files fix, or None. Each file signs as (path,
    ``st_mtime_ns``, ``st_size``) (``sources.corpus.file_signature``, as in
    ``load_table``'s schema memo), so a rewritten file gets a new key.
    None when the plan is nondeterministic, when a leaf is not a file scan
    (in-memory rows, an RDD, a JDBC table: their contents no file stat
    describes), when the frame reads no file, or when an input is not a
    local regular file."""
    plan = df._jdf.queryExecution().analyzed()
    if not plan.deterministic():
        return None
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (leaf.getClass().getSimpleName() != "LogicalRelation"
                or leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"):
            return None
    files = []
    for p in df.inputFiles():
        if not p.startswith(("file:", "/")):
            return None
        path = p.removeprefix("file:")
        sig = file_signature(path)
        if sig is None:
            return None
        files.append((path, *sig))
    return (frozenset(files), plan) if files else None


def stem_dictionary(tokens_df: DataFrame) -> DataFrame:
    """(token, stem) covering the distinct tokens of ``tokens_df`` — the
    session's Porter stem memo, materialized.

    Dictionary-encoding the stemmer is the scale play three times over: (1)
    the expensive per-token function runs once per distinct token (Heaps'
    law: vocabulary grows ~O(corpus^0.5), so at 100 TB this is millions of
    rows, not trillions); (2) ``localCheckpoint`` terminates the lineage so
    the 26-layer stem expression chain never reaches Catalyst inside a larger
    plan — joining two branches that both inline the chain sends the
    optimizer's constraint propagation into exponential blowup (measured:
    >200 s to optimize at ANY data size; the chain alone optimizes in <1 s);
    (3) a token's stem depends on the token string alone (``pw0 =
    lower(token)``, so ``case_sensitive`` tokens share it), so the dictionary
    is kept for the life of the SparkContext and each call stems only the
    tokens the session has not seen. The reference stems the same corpus
    twice, once per chained job (``DocumentFreq.java:69``, ``IDF.java:92``);
    here a warm pass stems nothing.

    The memo slot also records the last token frame the memo is known to
    cover. A call whose frame matches that record returns the memo and runs
    no job: the frame's analyzed plan is deterministic and ``sameResult``
    the recorded plan, and its input files keep the recorded (path,
    ``st_mtime_ns``, ``st_size``) (:func:`_frame_key`). So a session that
    repeats one unchanged local-file corpus scans it here once per memo,
    not once per query. Every other call runs, eagerly and before it
    returns:

    - the miss probe: the distinct tokens anti-joined against the broadcast
      memo, checkpointed, with the miss count observed in the same job — a
      second scan of the corpus next to the caller's probe side (the first
      call of a context has no memo to probe, and its stemming scans
      instead);
    - only when tokens are missing: those tokens round-robin to
      ``defaultParallelism`` partitions (the distinct shuffle is small, so
      AQE coalesces it to one partition, which would stem serially),
      ``with_stem`` over them, checkpointed, and their union with the memo
      coalesced to ONE partition and checkpointed as the new memo: a
      vocabulary-sized frame broadcasts from one task, where a partition
      per core would run one task each for both broadcasts of every call.

    Either way the frame, when it has a key, then replaces the record:
    within a context the memo only grows, so a record never goes stale. A
    frame with a nondeterministic plan or an input that is not a local file
    (in-memory rows, HDFS, S3) is never recorded and always probes, as does
    a second corpus that alternates with the recorded one.

    The memo is one slot keyed by the live SparkContext's
    ``applicationId``: a different or restarted context starts an empty
    memo with no records, so checkpoint blocks of a stopped context are
    never read. A lock makes the read-modify-write atomic across threads.
    The returned frame may hold tokens beyond ``tokens_df``'s; callers join
    it on ``token``. On a cluster the memo is the persisted dictionary
    table between stages — same pattern, same cut.
    """
    global _stem_memo
    sc = tokens_df.sparkSession.sparkContext
    # signed before the probe reads the files: a file rewritten during the
    # probe then fails the next call's match and is probed again
    key = _frame_key(tokens_df)
    with _STEM_MEMO_LOCK:
        memo, covered = None, None
        if _stem_memo and _stem_memo[0] == sc.applicationId:
            _, memo, covered = _stem_memo
        if key and covered and key[0] == covered[0] and key[1].sameResult(covered[1]):
            return memo
        covered = key or covered
        vocab = tokens_df.select("token").distinct()
        missing = vocab
        if memo is not None:
            seen = Observation()
            missing = (
                vocab.join(F.broadcast(memo), "token", "left_anti")
                .observe(seen, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            if seen.get["n"] == 0:
                _stem_memo = (sc.applicationId, memo, covered)
                return memo
        parts = sc.defaultParallelism
        stemmed = with_stem(missing.repartition(parts), "token").localCheckpoint(eager=True)
        if memo is not None:
            stemmed = memo.unionByName(stemmed)
        memo = stemmed.coalesce(1).localCheckpoint(eager=True)
        _stem_memo = (sc.applicationId, memo, covered)
        return memo


def stemmed_tokens_of(docs: DataFrame, case_sensitive: bool = False) -> DataFrame:
    """(doc_id, token, stem) from ANY (doc_id, text) corpus — P1-P5: tokenize
    → stop-filter (pre-stem, Q2) → stem via the broadcast stem dictionary.
    Works over parquet fixtures and reference-layout text dirs
    (``sources.corpus.read_text_corpus``) alike."""
    toks = explode_tokens(spread(docs), case_sensitive=case_sensitive)
    toks = filter_stopwords(toks)
    return toks.join(F.broadcast(stem_dictionary(toks)), "token")


def stemmed_tokens(spark: SparkSession, sf_dir: str, case_sensitive: bool = False) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return stemmed_tokens_of(docs, case_sensitive=case_sensitive)


def doc_freq_of(docs: DataFrame, top_n: int = 100, case_sensitive: bool = False) -> DataFrame:
    """Reference pipeline 2 (``DocumentFreq.java``) over any corpus: the
    top-``top_n`` (term, df) vocabulary of :func:`term_counts_of` — the ONE
    DF definition (:func:`_vocab_of_counts`) that :func:`tfidf_of` also
    joins back into TF, so the DF table and the TF-IDF vocabulary cannot
    diverge.

    ``case_sensitive`` ≙ the reference's ``-casesensitive`` flag: case is
    preserved through tokenization and the raw-token stop filter (so "The"
    escapes the lowercase stop list, as in the reference). Divergence: stems
    are ALWAYS lowercase — the portable stemmer's contract — whereas OpenNLP
    would emit case-mangled stems for uppercase input."""
    return _vocab_of_counts(term_counts_of(docs, case_sensitive=case_sensitive), top_n)


def doc_freq(spark: SparkSession, sf_dir: str, top_n: int = 100) -> DataFrame:
    """Top-``top_n`` terms by document frequency: (term, df)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return doc_freq_of(docs, top_n=top_n)


def term_counts_of(docs: DataFrame, case_sensitive: bool = False) -> DataFrame:
    """(doc_id, term, tf): per-document stem occurrence counts — ONE corpus
    pass (tokenize → stop-filter → stem → partial+final HashAggregate on
    (doc_id, stem)), lineage-cut because both downstream faces of TF-IDF
    derive from it (r15 optimization, guide §2.4 "remove shuffles outright" /
    §1.2 "don't compute things twice"): the DF vocabulary is a count over
    these rows (each (doc_id, term) row ≡ one distinct doc per term) and the
    TF table IS these rows. The previous shape ran the whole corpus pipeline
    TWICE — once under countDistinct for DF, once for TF. This intermediate
    is the reference's own materialization point (the DF job writes its
    aggregate to HDFS, ``README.md:14-18``); at 100 TB it is a persisted
    table between stages — same pattern, same cut — and it is corpus-scale
    SMALLER than the token stream (distinct stems per doc, no text payload).
    """
    stemmed = stemmed_tokens_of(docs, case_sensitive=case_sensitive)
    # eager=False still runs work here: under AQE, planning the cut runs the
    # upstream shuffle map stage (scan → tokenize → stem join → partial
    # aggregate) now, at build time; the final aggregate runs at the first
    # action that reads the counts
    return (
        stemmed.groupBy("doc_id", F.col("stem").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )


def _vocab_of_counts(counts: DataFrame, top_n: int) -> DataFrame:
    """(term, df): the ≤``top_n`` DF vocabulary over a (doc_id, term, tf)
    counts frame — the engine's ONE exact document-frequency definition
    (A3 + T1, deterministic tie-break ``term ASC``, a deliberate fix of
    reference quirk Q6). DF per term = count of counts-rows with a non-NULL
    doc_id (each row is one distinct document by construction —
    ``F.count(col)`` skips the NULL doc_id group exactly as
    ``countDistinct`` excludes NULLs). :func:`doc_freq_of` (and so the DF
    TSV that ``pipelines.run_tfidf(df_tsv=)`` reads back),
    :func:`tfidf_from_counts` and the similarity path all read it."""
    return (
        counts.groupBy("term")
        .agg(F.count("doc_id").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(top_n)
    )


def _score_col(corpus_constant: float = DEFAULT_CORPUS_CONSTANT):
    """The reference score (P10, ``IDF.java:164``) as one column expression —
    ONE definition shared by every consumer so the arithmetic (and therefore
    the rounded doubles) cannot diverge between the tfidf table and the
    similarity path's densified vectors."""
    return F.round(
        F.col("tf") * F.log(F.lit(corpus_constant) / (F.col("df") + 1)), SCORE_ROUND
    )


def tfidf_from_counts(counts: DataFrame, top_n: int = 100,
                      corpus_constant: float = DEFAULT_CORPUS_CONSTANT) -> DataFrame:
    """(doc_id, term, tf, score) from a (doc_id, term, tf) counts frame.

    The ≤top_n vocabulary (:func:`_vocab_of_counts`) broadcast-joins back
    onto the SAME frame (P6+J1 fused, replacing the reference's
    double-loaded distributed-cache HashMap, ``IDF.java:36-46,112-140``) —
    score arithmetic is untouched (P10)."""
    tf = counts.join(F.broadcast(_vocab_of_counts(counts, top_n)), "term")
    return tf.select("doc_id", "term", "tf", _score_col(corpus_constant).alias("score"))


def tfidf_of(docs: DataFrame, top_n: int = 100,
             corpus_constant: float = DEFAULT_CORPUS_CONSTANT,
             case_sensitive: bool = False) -> DataFrame:
    """Reference pipeline 3 (``IDF.java`` chained after ``DocumentFreq.java``)
    over any (doc_id, text) corpus: (doc_id, term, tf, score).

    r15 shape: ONE corpus pass builds :func:`term_counts_of`; DF and TF both
    read that bounded intermediate instead of re-running scan → tokenize →
    stem per face (the r14 plan re-scanned the corpus twice by design; the
    counts table is the cheaper thing to materialize and is exactly what the
    reference's own DF job persists between stages)."""
    counts = term_counts_of(docs, case_sensitive=case_sensitive)
    return tfidf_from_counts(counts, top_n=top_n, corpus_constant=corpus_constant)


def tfidf(spark: SparkSession, sf_dir: str, top_n: int = 100,
          corpus_constant: float = DEFAULT_CORPUS_CONSTANT) -> DataFrame:
    """(doc_id, term, tf, score) on the fixture corpus — see :func:`tfidf_of`."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_of(docs, top_n=top_n, corpus_constant=corpus_constant)


def tfidf_doc_similarity(spark: SparkSession, sf_dir: str, top_pairs: int = 20,
                         top_n: int = 100) -> DataFrame:
    """(doc_a, doc_b, cos_sim): most similar document pairs by cosine over
    TF-IDF vectors — the composition the reference's two problems build
    toward but never ship.

    Physical shape (round-2 rewrite; the round-1 term-equi-join exploded
    O(Σ per-term df²) pair-term rows — 112 s at sf0.1 — because the top-100
    DF vocabulary is by construction the hottest terms, so the inverted-index
    join tends dense on ANY corpus): the vocabulary is globally bounded at
    ``top_n`` terms, so each document's sparse TF-IDF vector densifies into a
    fixed ``top_n``-slot array keyed by vocabulary position. ONE shuffle
    builds the (doc_id, vec, nrm) table; pair generation + dot products run
    as replication-based block matrix multiply (``operators/allpairs.py``:
    numpy ``A @ B.T`` tiles under ``applyInPandas``, tile-local top-k) — no
    pair-term explosion, no SortMergeJoin, no billion-row aggregation — and
    the global top-20 is a ``TakeOrderedAndProject`` over tile candidates.
    Semantics (exact cosine over shared-term pairs) are unchanged; the
    oracle SQL is untouched.

    Densify (r16, guide §4.1/§4.2): the (doc_id, slot, score) rows fold into
    fixed ``top_n``-slot arrays in ONE Arrow ``applyInPandas`` scatter
    (numpy index assignment) grouped by a deterministic doc_id salt — the
    r15 form ran ``collect_list → map_from_entries → transform(sequence)``,
    ~``top_n`` interpreted ``element_at`` map probes per document (higher-
    order exprs never enter codegen; profiled ~1.1 s of the query at sf0.1),
    plus a distinct over the scores table just to index the vocabulary. The
    slot index now derives from the ≤``top_n``-row vocabulary itself
    (every vocab term has df ≥ 1, so the scores' distinct term set IS the
    vocabulary — same slots, no corpus-side distinct), and the score column
    is the SAME expression object tfidf() uses (:func:`_score_col`), so the
    vector entries are bit-identical doubles placed at identical slots.
    ``nrm`` = sqrt of the slot-ordered square sum (numpy); the former Spark
    ``sum()`` accumulated in arbitrary row order, so neither form is
    IEEE-pinned — both are absorbed by the pair kernel's round at 4dp, and
    the oracle hash-checks the result either way.

    Scale: see ``operators/allpairs.py`` — the block count bounds per-task
    memory, the replication shuffle is n × (P+1)/2 rows, and beyond ~10⁶
    vectors the LSH candidate routes (``operators/dedup.py``) are the
    intended path with this operator as their exact oracle. The densify
    group count follows ``spark.sql.shuffle.partitions`` (env-derived), so
    per-task state is ~(docs/partitions) × top_n doubles — scale-adaptive,
    not a local-mode constant."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from tf_idf_using_mapreduce_spark.operators.allpairs import cosine_topk_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE corpus pass builds the counts table (lineage-cut inside
    # term_counts_of); the vocabulary aggregate and the score rows both
    # read it — exactly tfidf()'s own shape, shared here so the similarity
    # query adds no extra corpus scan
    counts = term_counts_of(docs)
    vocab = _vocab_of_counts(counts, top_n)
    # dense slot per vocabulary term (≤ top_n rows; alphabetical — any stable
    # order works, slots just have to agree across docs). Window over the
    # bounded vocabulary, never over corpus-scale rows.
    slots = vocab.withColumn(
        "idx", F.row_number().over(Window.orderBy("term")) - 1
    )
    scored = (
        counts.join(F.broadcast(slots), "term")
        # NULL doc_ids (dirty corpora) carry no pairable identity: the pair
        # kernel's id comparisons and the oracle's doc_id < doc_id join both
        # drop them structurally — excluded here so the int64 scatter below
        # never sees a NULL key (the r15 plan produced a NULL-doc vec row
        # that the block tagging then discarded; same final rows)
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", "idx", _score_col().alias("score"))
    )
    n_groups = int(spark.conf.get("spark.sql.shuffle.partitions"))
    scored = scored.withColumn(
        "g", F.pmod(F.xxhash64("doc_id"), F.lit(n_groups))
    )

    def densify(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                 "vec": pd.Series(dtype="object"),
                                 "nrm": pd.Series(dtype="float64")})
        codes, uniq = pd.factorize(pdf["doc_id"])
        M = np.zeros((len(uniq), top_n), dtype=np.float64)
        # (doc, slot) is unique by construction (counts is grouped on
        # (doc_id, term); term → idx is injective), so plain assignment —
        # bit-identical placement of the already-rounded score doubles
        M[codes, pdf["idx"].to_numpy()] = pdf["score"].to_numpy()
        nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
        return pd.DataFrame({"doc_id": np.asarray(uniq, dtype="int64"),
                             "vec": list(M), "nrm": nrm})

    vecs = scored.groupBy("g").applyInPandas(
        densify, "doc_id long, vec array<double>, nrm double"
    )
    pairs = cosine_topk_pairs(vecs, top_pairs, id_col="doc_id")
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "cos_sim"
    )


def tfidf_doc_similarity_oracle(top_pairs: int = 20) -> str:
    return f"""
WITH scores AS (SELECT doc_id, term, score FROM ({tfidf_oracle()}) tfidf_full),
norms AS (SELECT doc_id, sqrt(sum(score * score)) AS nrm FROM scores GROUP BY 1),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.score * b.score) AS dot
  FROM scores a JOIN scores b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 4) AS cos_sim
FROM dots
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
ORDER BY cos_sim DESC, doc_a ASC, doc_b ASC
LIMIT {top_pairs}
"""


def top_terms_per_doc(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """(doc_id, term, score, rk): top-k terms per document by TF-IDF score —
    SURVEY.md §2.7's named fixture query, the per-group generalization of the
    reference's global top-100 (T1) via a ranking window."""
    from pyspark.sql import Window

    scores = tfidf(spark, sf_dir).select("doc_id", "term", "score")
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("doc_id", "term", "score", "rk")
    )


def top_terms_per_doc_oracle(k: int = 3) -> str:
    return f"""
SELECT doc_id, term, score, rk FROM (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
  FROM ({tfidf_oracle()}) tfidf_scores
) ranked WHERE rk <= {k}
"""


def bigram_pmi(spark: SparkSession, sf_dir: str, top_n: int = 20,
               min_count: int = 10) -> DataFrame:
    """(w1, w2, n_ab, pmi): top collocations by pointwise mutual information
    over adjacent token pairs — ln(p(ab) / (p(a)·p(b))). Unigram/bigram
    counting is two aggregations over the exploded stream; the tiny unigram
    table broadcasts into the PMI arithmetic."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.expr(TOKENS).alias("t"),
    )
    bigrams = toks.where(F.size("t") >= 2).select(
        F.explode(word_bigrams("t")).alias("bg")
    ).select("bg.w1", "bg.w2")
    unigrams = toks.select(F.explode("t").alias("w"))
    n_total = unigrams.groupBy().agg(F.count(F.lit(1)).alias("n_uni"))
    n_big = bigrams.groupBy().agg(F.count(F.lit(1)).alias("n_big"))
    uni = unigrams.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    big = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    joined = (
        big.where(F.col("n_ab") >= min_count)
        .join(F.broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_a")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_b")), "w2")
        .crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(n_big))
    )
    pmi = F.round(
        F.log((F.col("n_ab") / F.col("n_big"))
              / ((F.col("n_a") / F.col("n_uni")) * (F.col("n_b") / F.col("n_uni")))),
        6,
    )
    return (
        joined.select("w1", "w2", "n_ab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(top_n)
    )


def bigram_pmi_oracle(top_n: int = 20, min_count: int = 10) -> str:
    return f"""
WITH toksarr AS (
  SELECT doc_id, {TOKENS} AS t FROM documents
),
bigrams AS (
  SELECT bg['w1'] AS w1, bg['w2'] AS w2 FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                                 i -> {{'w1': t[i], 'w2': t[i+1]}})) AS bg
    FROM toksarr WHERE len(t) >= 2
  ) bgx
),
unigrams AS (SELECT unnest(t) AS w FROM toksarr),
tot AS (SELECT count(*) AS n_uni FROM unigrams),
totb AS (SELECT count(*) AS n_big FROM bigrams),
uni AS (SELECT w, count(*) AS n_w FROM unigrams GROUP BY w),
big AS (SELECT w1, w2, count(*) AS n_ab FROM bigrams GROUP BY w1, w2)
SELECT w1, w2, n_ab,
       round(ln((n_ab * 1.0 / n_big) / ((ua.n_w * 1.0 / n_uni) * (ub.n_w * 1.0 / n_uni))), 6) AS pmi
FROM big JOIN uni ua ON ua.w = w1 JOIN uni ub ON ub.w = w2, tot, totb
WHERE n_ab >= {min_count}
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {top_n}
"""


# --------------------------------------------------------------------------- #
# BM25 ranking — the canonical successor to the reference's TF-IDF score
# --------------------------------------------------------------------------- #

# Pinned ad-hoc query: one rare discriminative term (df ≈ 5% of docs in the
# fixtures) + three common ones, so the idf spread actually orders the
# result. FIXED TUPLE ORDER — the per-term scores are summed in this textual
# order on both engines (see the determinism note in bm25_topk).
BM25_QUERY = ("dup", "join", "scan", "spark")
BM25_K1 = "CAST(1.2 AS DOUBLE)"
BM25_B = "CAST(0.75 AS DOUBLE)"


def _bm25_score_expr(tf: str, df: str, dl: str, n: str, sumdl: str) -> str:
    """One (doc, term) BM25 contribution — IDENTICAL text on both engines so
    every IEEE operation matches bit-for-bit given equal integer inputs:
    Lucene's non-negative idf ``ln(1 + (N - df + 0.5)/(df + 0.5))`` and the
    classic saturation term, with ``dl/avgdl`` computed as the exact-integer
    cross-product ``dl·N / sumdl`` (one correctly-rounded double division;
    never avg() first). The only last-ulp liberty either engine has is ln()
    itself (libm vs java.lang.Math) — the same accepted hazard as
    doc_lm_score/bigram_pmi, absorbed by the final round at SCORE_ROUND."""
    # CASTs keep the division double/double on BOTH engines — a bigint±0.5
    # intermediate is DECIMAL in Spark (decimal÷decimal yields a half-up
    # decimal quotient) but double in DuckDB's always-float division.
    idf = f"ln(1 + (CAST({n} - {df} AS DOUBLE) + 0.5) / (CAST({df} AS DOUBLE) + 0.5))"
    dl_over_avg = f"(CAST({dl} * {n} AS DOUBLE) / CAST({sumdl} AS DOUBLE))"
    denom = f"({tf} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * {dl_over_avg}))"
    return f"{idf} * ({tf} * ({BM25_K1} + 1)) / {denom}"


def _query_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w, tf, df, dl, n_docs, sumdl): one row per (document, pinned
    query term) it contains — the postings front that :func:`bm25_topk` and
    :func:`rrf_fusion_topk` score. The token stream is filtered to the |Q|
    query terms BEFORE any shuffle (map-side prune — at 100 TB this is the
    inverted-index probe, reading ~|Q|/|V| of the postings mass); tf is a
    partial+final hash agg on (doc_id, w); per-doc length joins on the
    doc_id equi-key; the ≤|Q|-row df table and the single-row (N, Σdl)
    scalars broadcast."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = spread(docs).select(
        "doc_id", F.expr(TOKENS).alias("t")
    )
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    scalars = dl.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sumdl")
    )
    postings = (
        toks.select("doc_id", F.explode("t").alias("w"))
        .where(F.col("w").isin(*BM25_QUERY))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tab = postings.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    return (
        postings.join(dl, "doc_id")
        .join(F.broadcast(df_tab), "w")
        .crossJoin(F.broadcast(scalars))
    )


def _pivot_cells(score: str) -> list:
    """Per-document pivot of the per-term ``score`` column into one cell
    ``{score}_{t}`` per query term: max(CASE…) over exactly one row, 0.0 for
    a term the document lacks."""
    return [
        F.coalesce(F.max(F.when(F.col("w") == t, F.col(score))), F.lit(0.0)).alias(f"{score}_{t}")
        for t in BM25_QUERY
    ]


def _pivot_sum(score: str):
    """The fixed-order sum ``{score}_dup + {score}_join + …`` of the pivot
    cells, left to right in BM25_QUERY order on both engines (never SUM()
    over rows — cross-term float summation is order-sensitive)."""
    total = None
    for t in BM25_QUERY:
        c = F.col(f"{score}_{t}")
        total = c if total is None else total + c
    return total


def bm25_topk(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """(doc_id, n_hits, score): top-k documents by BM25 (k1=1.2, b=0.75,
    Lucene non-negative idf) for the pinned query terms — ad-hoc retrieval
    over the corpus, the modern form of the reference's TF-IDF ranking
    (IDF.java:164 hand-rolls ``tf · ln(10000/(df+1))``; BM25 adds tf
    saturation and length normalization, the public Robertson/Lucene
    formulation).

    Float parity: the per-term scores are pivoted into one fixed-order
    expression (:func:`_pivot_sum`: sb_dup + sb_join + sb_scan + sb_spark,
    left-to-right on both engines) instead of SUM() over rows — the same
    discipline that fixed embedding_centroid_shift.

    Scale shape: the map-side-pruned postings front of
    :func:`_query_postings`; top-k is TakeOrderedAndProject
    (per-partition heads, no global sort)."""
    scored = _query_postings(spark, sf_dir).select(
        "doc_id", "w",
        F.expr(_bm25_score_expr("tf", "df", "dl", "n_docs", "sumdl")).alias("sb"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits"), *_pivot_cells("sb")
    )
    return (
        per_doc.select("doc_id", "n_hits", F.round(_pivot_sum("sb"), SCORE_ROUND).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_oracle(k: int = 20) -> str:
    terms_sql = ", ".join(f"'{t}'" for t in BM25_QUERY)
    cells = ",\n".join(
        f"       coalesce(max(CASE WHEN w = '{t}' THEN s END), CAST(0 AS DOUBLE)) AS s_{t}"
        for t in BM25_QUERY
    )
    total = " + ".join(f"s_{t}" for t in BM25_QUERY)
    return f"""
WITH toksarr AS (
  SELECT doc_id, {TOKENS} AS t FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl FROM toksarr),
scalars AS (SELECT count(*) AS n_docs, sum(dl) AS sumdl FROM dl),
postings AS (
  SELECT doc_id, w, count(*) AS tf FROM (
    SELECT doc_id, unnest(t) AS w FROM toksarr
  ) x WHERE w IN ({terms_sql}) GROUP BY doc_id, w
),
df_tab AS (SELECT w, count(*) AS df FROM postings GROUP BY w),
scored AS (
  SELECT p.doc_id, p.w,
         {_bm25_score_expr('tf', 'df', 'dl', 'n_docs', 'sumdl')} AS s
  FROM postings p JOIN dl USING (doc_id) JOIN df_tab USING (w), scalars
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
{cells}
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_hits, round({total}, {SCORE_ROUND}) AS score
FROM per_doc
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# --------------------------------------------------------------------------- #
# Reciprocal-rank fusion — hybrid retrieval over two rankers (r9)
# --------------------------------------------------------------------------- #

RRF_K = 60       # Cormack et al.'s constant; dampens the head rank's weight
RRF_POOL = 100   # per-ranker candidate list depth fused (standard truncation)
RRF_SEM_QUERY_VEC = 0  # the pinned semantic query: vec 0's embedding


def rrf_fusion_topk(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """(doc_id, rank_bm25, rank_vsm, rank_sem, rrf_score): top-k documents
    for the pinned query by RECIPROCAL-RANK FUSION of three heterogeneous
    rankers — BM25 (saturated, length-normalized lexical), classic TF-IDF
    VSM (``tf · ln(N/(df+1))``, the reference's scoring family,
    IDF.java:164), and a SEMANTIC leg (cosine of each document's embedding,
    joined on ``vec_id = doc_id``, to the pinned query vector
    ``RRF_SEM_QUERY_VEC``) — ``rrf = Σ_legs 1/(RRF_K + rank)`` over each
    leg's top-``RRF_POOL``. This is the standard hybrid-search primitive:
    only integer RANKS cross the fusion boundary, so BM25's unbounded
    scores and the cosine's [-1, 1] never meet and no score calibration is
    needed — which is also why cross-engine float hashing is structurally
    safe here. Documents without an embedding (partial coverage is the
    norm) simply have no semantic rank; they can still fuse in through the
    lexical legs.

    Float parity: each lexical leg's score is the bm25_topk fixed-order
    pivot sum (never SUM() over per-term rows), rounded at SCORE_ROUND
    BEFORE ranking; the semantic leg rounds its cosine at COS_ROUND
    before ranking (the engine-wide convention); the fusion itself is a
    fixed-order sum of exact reciprocals (CAST(1 AS DOUBLE)/(K + rank)),
    identical IEEE ops on both engines. Ranks are integers — order-proof.

    Scale shape: ONE tokenize pass feeds both lexical legs (the shared
    per-doc pivot frame is lineage-cut, so the two ranking reads don't
    re-scan the corpus); the semantic leg is one embeddings scan against a
    broadcast 64-float literal (driver-side collect of ONE row — the same
    metadata-scale coordinator state as the IVF anchors); each leg's
    top-``RRF_POOL`` is a TakeOrderedAndProject (per-partition heads, no
    global sort), the rank window then runs on a ≤ RRF_POOL-row frame (the
    engine's post-limit window convention), and the fusion is full outer
    joins of ≤ RRF_POOL-row frames — every post-scan stage is O(RRF_POOL),
    independent of corpus size. At 100 TB the semantic leg's exact scan
    hands off to the ANN routes (``similarity.py``) with this as their
    oracle, like every exact twin in this engine."""
    scored = _query_postings(spark, sf_dir).select(
        "doc_id", "w",
        F.expr(_bm25_score_expr("tf", "df", "dl", "n_docs", "sumdl")).alias("sb"),
        F.expr(_vsm_score_expr("tf", "df", "n_docs")).alias("sv"),
    )
    # one corpus pass computes BOTH legs' pivots; the cut lets the two
    # ranking reads below reuse it instead of re-tokenizing
    per_doc = (
        scored.groupBy("doc_id").agg(*_pivot_cells("sb"), *_pivot_cells("sv"))
        .localCheckpoint(eager=False)
    )

    def leg(score: str) -> DataFrame:
        top = (
            per_doc.select("doc_id", F.round(_pivot_sum(score), SCORE_ROUND).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(RRF_POOL)
        )
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return top.select(
            "doc_id", F.row_number().over(w).cast("bigint").alias("rank")
        )

    from pyspark.sql import Window

    rb = leg("sb").withColumnRenamed("rank", "rank_bm25")
    rv = leg("sv").withColumnRenamed("rank", "rank_vsm")
    rs = _rrf_semantic_leg(spark, sf_dir).withColumnRenamed("rank", "rank_sem")
    contrib = "coalesce(CAST(1 AS DOUBLE) / ({K} + {r}), CAST(0 AS DOUBLE))"
    fused = (
        rb.join(rv, "doc_id", "full_outer")
        .join(rs, "doc_id", "full_outer")
        .select(
            "doc_id", "rank_bm25", "rank_vsm", "rank_sem",
            F.expr(
                contrib.format(K=RRF_K, r="rank_bm25")
                + " + " + contrib.format(K=RRF_K, r="rank_vsm")
                + " + " + contrib.format(K=RRF_K, r="rank_sem")
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(k)


def _rrf_semantic_leg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, rank): embedding-cosine ranking against the pinned query
    vector — the semantic third of :func:`rrf_fusion_topk`. The query
    vector collects driver-side (ONE row, coordinator state like the IVF
    anchors) and rides the scan as a literal; zero-norm vectors are
    excluded per the engine-wide cosine convention."""
    from pyspark.sql import Window

    from tf_idf_using_mapreduce_spark.functions.vectors import (
        CAST_DOUBLE,
        spark_cos,
        spark_norm,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(CAST_DOUBLE.format(v="embedding")).alias("v")
    ).withColumn("nrm", F.expr(spark_norm("v"))).where(F.col("nrm") > 0)
    q = e.where(F.col("vec_id") == RRF_SEM_QUERY_VEC).select("v", "nrm").collect()
    if not q:
        # no query vector (empty corpus / NULL payloads): no semantic leg
        return spark.createDataFrame([], "doc_id long, rank bigint")
    qv = F.lit([float(x) for x in q[0]["v"]])
    qn = F.lit(float(q[0]["nrm"]))
    cos = spark_cos("v", "_qv", "nrm", "_qn")
    scored = e.withColumn("_qv", qv).withColumn("_qn", qn).select(
        F.col("vec_id").alias("doc_id"), cos.alias("score")
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(RRF_POOL)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.select("doc_id", F.row_number().over(w).cast("bigint").alias("rank"))


def _vsm_score_expr(tf: str, df: str, n: str) -> str:
    """One (doc, term) classic VSM contribution, ``tf · ln(N/(df+1))`` with
    the ACTUAL corpus size (the reference pins N=10000, a documented quirk
    the ``tfidf`` query preserves; retrieval fusion wants the adaptive
    form). CASTs keep the division double/double on both engines."""
    return f"{tf} * ln(CAST({n} AS DOUBLE) / (CAST({df} AS DOUBLE) + 1))"


def rrf_fusion_topk_oracle(k: int = 20) -> str:
    from tf_idf_using_mapreduce_spark.functions.vectors import (
        duck_cast_double,
        duck_cos,
        duck_norm,
    )

    terms_sql = ", ".join(f"'{t}'" for t in BM25_QUERY)
    cells = ",\n".join(
        f"       coalesce(max(CASE WHEN w = '{t}' THEN {c} END), CAST(0 AS DOUBLE)) AS {c}_{t}"
        for c in ("sb", "sv") for t in BM25_QUERY
    )
    tb = " + ".join(f"sb_{t}" for t in BM25_QUERY)
    tv = " + ".join(f"sv_{t}" for t in BM25_QUERY)
    contrib = f"coalesce(CAST(1 AS DOUBLE) / ({RRF_K} + {{r}}), CAST(0 AS DOUBLE))"
    return f"""
WITH toksarr AS (
  SELECT doc_id, {TOKENS} AS t FROM documents
),
dl AS (SELECT doc_id, len(t) AS dl FROM toksarr),
scalars AS (SELECT count(*) AS n_docs, sum(dl) AS sumdl FROM dl),
postings AS (
  SELECT doc_id, w, count(*) AS tf FROM (
    SELECT doc_id, unnest(t) AS w FROM toksarr
  ) x WHERE w IN ({terms_sql}) GROUP BY doc_id, w
),
df_tab AS (SELECT w, count(*) AS df FROM postings GROUP BY w),
scored AS (
  SELECT p.doc_id, p.w,
         {_bm25_score_expr('tf', 'df', 'dl', 'n_docs', 'sumdl')} AS sb,
         {_vsm_score_expr('tf', 'df', 'n_docs')} AS sv
  FROM postings p JOIN dl USING (doc_id) JOIN df_tab USING (w), scalars
),
per_doc AS (
  SELECT doc_id,
{cells}
  FROM scored GROUP BY doc_id
),
e AS (SELECT vec_id, {duck_cast_double('embedding')} AS v,
             {duck_norm(duck_cast_double('embedding'))} AS nrm
      FROM embeddings WHERE nrm > 0),
qvec AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = {RRF_SEM_QUERY_VEC}),
topb AS (SELECT doc_id, round({tb}, {SCORE_ROUND}) AS score FROM per_doc
         ORDER BY score DESC, doc_id ASC LIMIT {RRF_POOL}),
topv AS (SELECT doc_id, round({tv}, {SCORE_ROUND}) AS score FROM per_doc
         ORDER BY score DESC, doc_id ASC LIMIT {RRF_POOL}),
tops AS (SELECT e.vec_id AS doc_id,
                {duck_cos('e.v', 'q.qv', 'e.nrm', 'q.qn')} AS score
         FROM e, qvec q
         ORDER BY score DESC, doc_id ASC LIMIT {RRF_POOL}),
rb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
              AS rank_bm25 FROM topb),
rv AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
              AS rank_vsm FROM topv),
rs AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
              AS rank_sem FROM tops)
SELECT coalesce(rb.doc_id, rv.doc_id, rs.doc_id) AS doc_id,
       rank_bm25, rank_vsm, rank_sem,
       {contrib.format(r='rank_bm25')} + {contrib.format(r='rank_vsm')}
         + {contrib.format(r='rank_sem')} AS rrf_score
FROM rb
FULL OUTER JOIN rv ON rb.doc_id = rv.doc_id
FULL OUTER JOIN rs ON coalesce(rb.doc_id, rv.doc_id) = rs.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {k}
"""


def doc_freq_approx(spark: SparkSession, sf_dir: str, top_n: int = 100,
                    rsd: float = 0.05) -> DataFrame:
    """HyperLogLog++ variant of the DF aggregation (``approx_count_distinct``)
    — the documented approximation for 100 TB corpora where exact distinct
    counts per term would need a doc_id-level shuffle per group. Rows-only
    checkable (DuckDB's HLL differs); relative error asserted in tests.
    """
    toks = stemmed_tokens(spark, sf_dir)
    return (
        toks.groupBy(F.col("stem").alias("term"))
        .agg(F.approx_count_distinct("doc_id", rsd).alias("df_approx"))
        .orderBy(F.desc("df_approx"), F.asc("term"))
        .limit(top_n)
    )


HLL_REL_ERR_MAX = 0.25  # 5× the declared rsd (0.05) — violations mean a broken sketch


def doc_freq_approx_err(spark: SparkSession, sf_dir: str, rsd: float = 0.05,
                        rel_err_max: float = HLL_REL_ERR_MAX) -> DataFrame:
    """(n_terms, n_violations): the ERROR-BOUND gate for
    :func:`doc_freq_approx` — per term, |HLL df − exact df| / exact must stay
    within ``rel_err_max`` (5× the declared rsd; HLL++ error is
    approximately Gaussian, so 5σ violations mean a broken sketch, not
    noise). Fully oracled where the sketch itself cannot be: the oracle
    reproduces ``n_terms`` from the exact pipeline and pins
    ``n_violations = 0``. Both counts come from ONE aggregation over the
    stemmed tokens (exact countDistinct and the HLL run side by side)."""
    toks = stemmed_tokens(spark, sf_dir)
    per_term = toks.groupBy(F.col("stem").alias("term")).agg(
        F.countDistinct("doc_id").alias("df"),
        F.approx_count_distinct("doc_id", rsd).alias("df_approx"),
    )
    viol = (
        F.abs(F.col("df_approx") - F.col("df")) / F.col("df") > F.lit(rel_err_max)
    )
    # count(when(...)) not sum(cast): sum over ZERO terms (empty corpus) is
    # NULL on Spark while the oracle pins literal 0 — the conditional-count
    # discipline from the round-7 q12 fix (found by tools/degenerate_check.py)
    return per_term.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.count(F.when(viol, True)).alias("n_violations"),
    )


def doc_freq_approx_err_oracle() -> str:
    return (
        "SELECT CAST(count(DISTINCT stem) AS BIGINT) AS n_terms, "
        f"CAST(0 AS BIGINT) AS n_violations FROM ({_stemmed_tokens_sql()}) st"
    )


def _tfidf_mllib_fit(spark: SparkSession, sf_dir: str, vocab_size: int = 100):
    """Fit the MLlib CountVectorizer + IDF pipeline; returns
    ``(vocabulary, features_df, n_docs, doc_tokens)`` — the vocabulary
    (≤ ``vocab_size`` strings, driver-side model state) is what lets the
    rank-overlap twin name terms; ``n_docs`` is counted over the
    checkpointed token frame (cheap — no lineage re-run) for the overlap
    twin's vacuous-gate rule. The cut is ``eager=False``, but under AQE
    planning it runs the upstream map stage (scan → tokenize → stem join →
    partial ``collect_list``) at build time; the count then runs the final
    aggregate and fills the blocks; ``doc_tokens`` (the checkpointed
    (doc_id, terms) frame) lets the twin derive the EXACT pipeline from the
    already-materialized stems instead of re-running the corpus scan →
    tokenize → Porter pipeline a second time (r15 optimization)."""
    from pyspark.ml.feature import IDF, CountVectorizer

    toks = stemmed_tokens(spark, sf_dir)
    # Materialize the stem lineage ONCE: the fit is inherently multi-pass
    # (cv.fit, cv.transform, idf.fit, the final transform — four actions),
    # and uncached each pass re-ran scan → tokenize → Porter-stem →
    # collect_list from parquet; measured 20.2 s for the overlap twin at
    # sf0.1, 24 % of the whole bench suite (round-6 verdict #1).
    # localCheckpoint (the repo's standard lineage cut) computes the token
    # lists once and the term-frequency vectors once; every later pass
    # reads the checkpointed blocks. Values are unchanged — same lineage,
    # fewer evaluations — so the oracled overlap gate is untouched.
    # LAZY since r16: the n_docs count below is the first action anyway, so
    # it materializes the blocks and counts in ONE job instead of a
    # dedicated materialization job plus a count job (the CC-round fusion
    # pattern, r15).
    doc_tokens = (
        toks.groupBy("doc_id")
        .agg(F.collect_list("stem").alias("terms"))
        .localCheckpoint(eager=False)
    )
    # CountVectorizer.fit raises on an empty corpus (found by
    # tools/degenerate_check.py); a model fit on nothing has no vocabulary,
    # and the query contract is empty-in → empty-out. The count doubles as
    # the checkpoint's materialization action (see the lazy note above).
    n_docs = doc_tokens.count()
    if n_docs == 0:
        from pyspark.ml.linalg import VectorUDT
        from pyspark.sql.types import LongType, StructField, StructType

        empty_schema = StructType([
            StructField("doc_id", LongType()),
            StructField("features", VectorUDT()),
        ])
        return [], spark.createDataFrame([], empty_schema), 0, doc_tokens
    cv = CountVectorizer(inputCol="terms", outputCol="tf_vec", vocabSize=vocab_size)
    cv_model = cv.fit(doc_tokens)
    # lazy: IDF.fit's treeAggregate is the first action over the tf vectors
    # — it materializes the blocks en route (one job fewer, same values)
    tf = cv_model.transform(doc_tokens).localCheckpoint(eager=False)
    idf = IDF(inputCol="tf_vec", outputCol="features")
    feats = idf.fit(tf).transform(tf).select("doc_id", "features")
    return cv_model.vocabulary, feats, n_docs, doc_tokens


def tfidf_mllib(spark: SparkSession, sf_dir: str, vocab_size: int = 100) -> DataFrame:
    """MLlib variant (CountVectorizer + IDF) — documented PARALLEL pipeline,
    NOT the reference score: MLlib computes ``log((N+1)/(df+1))`` vs the
    reference's ``log(10000/(df+1))`` (SURVEY.md §4.3). Returns
    (doc_id, features) with the MLlib TF-IDF vector; rows-only checkable.
    """
    return _tfidf_mllib_fit(spark, sf_dir, vocab_size=vocab_size)[1]


def tfidf_mllib_exploded(spark: SparkSession, sf_dir: str, vocab_size: int = 100) -> DataFrame:
    """MLlib TF-IDF flattened to (doc_id, term, mllib_score) rows — the
    registry-checkable face of :func:`tfidf_mllib` (vector UDTs don't hash
    across engines; exploding to scalars makes the rows-only check
    meaningful). Scores use MLlib's ``log((N+1)/(df+1))`` — deliberately NOT
    the reference formula (SURVEY.md §4.3)."""
    from pyspark.ml.functions import vector_to_array

    feats = tfidf_mllib(spark, sf_dir, vocab_size=vocab_size)
    arr = feats.select("doc_id", vector_to_array("features").alias("vals"))
    return (
        arr.select("doc_id", F.posexplode("vals").alias("term_idx", "mllib_score"))
        .where(F.col("mllib_score") > 0)
        .select("doc_id", "term_idx", F.round("mllib_score", 6).alias("mllib_score"))
    )


# rank-overlap floor for the MLlib twin: the two IDF formulas
# (log((N+1)/(df+1)) vs log(10000/(df+1))) differ by an additive constant
# per term, so per-doc top-k sets agree substantially but not perfectly;
# measured overlap on the sf0.01 fixture is 0.988 — the floor sits far
# below that (regression guard) but far above the ~k/|vocab| random-set
# overlap (~0.05).
MLLIB_TWIN_K = 5
MLLIB_OVERLAP_FLOOR = 0.5


def tfidf_mllib_topk_overlap(spark: SparkSession, sf_dir: str,
                             k: int = MLLIB_TWIN_K,
                             floor: float = MLLIB_OVERLAP_FLOOR) -> DataFrame:
    """(n_exact, overlap_ok): the VALUE CHECK for :func:`tfidf_mllib` — the
    same twin pattern as the ANN recall gates (``similarity.py``). MLlib's
    IDF formula deliberately diverges from the reference (SURVEY §4.3), so
    scores can't be compared directly; but both formulas are monotone
    decreasing in df at fixed N, so the per-doc TOP-``k`` TERM SETS must
    agree substantially — a broken vectorizer, vocabulary, or IDF fit
    collapses the overlap, while formula-constant drift doesn't. The
    fitted vocabulary (≤100 strings of driver-side model state) names the
    exploded vector slots; ranking is two bounded per-doc windows (≤100
    terms per doc by construction); the oracle reproduces ``n_exact``
    from the fully-oracled exact pipeline and pins ``overlap_ok = 1``."""
    vocab, feats, n_docs, doc_tokens = _tfidf_mllib_fit(spark, sf_dir)
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import Window

    # the gate is declared VACUOUS below 2 documents, mirrored in the
    # oracle: a 1-doc corpus gives every term df = N, so MLlib's idf
    # log((N+1)/(df+1)) is 0 for the whole vocabulary — there is no nonzero
    # MLlib ranking to overlap with (found by the single-row corpus sweep,
    # tools/degenerate_check.py --tiny). The empty-corpus case (no vocab)
    # rides the same branch.
    vacuous = (not vocab) or n_docs < 2
    if vacuous:
        mllib = spark.createDataFrame([], "doc_id long, term string, mllib_score double")
    else:
        vocab_arr = F.array(*[F.lit(t) for t in vocab])
        mllib = (
            feats.select("doc_id", vector_to_array("features").alias("vals"))
            .select("doc_id", F.posexplode("vals").alias("term_idx", "mllib_score"))
            .where(F.col("mllib_score") > 0)
            .withColumn("term", F.element_at(vocab_arr, F.col("term_idx") + 1))
        )
    w_m = Window.partitionBy("doc_id").orderBy(F.desc("mllib_score"), F.asc("term"))
    mtop = (
        mllib.withColumn("rn", F.row_number().over(w_m))
        .where(F.col("rn") <= k).select("doc_id", "term")
    )
    if vacuous:
        etop = spark.createDataFrame([], "doc_id long, term string")
    else:
        # derive the EXACT pipeline from the fit's already-checkpointed
        # (doc_id, terms) frame instead of re-running scan → tokenize →
        # Porter a second time (r15): exploding the collected stem lists
        # reproduces the stemmed-token multiset exactly (collect_list keeps
        # duplicates), so the counts — and therefore DF, TF and scores —
        # are identical to tfidf()'s
        w_e = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
        exact_counts = (
            doc_tokens.select("doc_id", F.explode("terms").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        etop = (
            tfidf_from_counts(exact_counts)
            .withColumn("rn", F.row_number().over(w_e))
            .where(F.col("rn") <= k).select("doc_id", "term")
        )
    hits = etop.join(mtop, ["doc_id", "term"], "left_semi").agg(
        F.count(F.lit(1)).alias("hits")
    )
    total = etop.agg(F.count(F.lit(1)).alias("n_exact"))
    return total.crossJoin(F.broadcast(hits)).select(
        "n_exact",
        (F.col("hits") >= F.lit(floor) * F.col("n_exact")).cast("int").alias("overlap_ok"),
    )


def tfidf_mllib_topk_overlap_oracle(k: int = MLLIB_TWIN_K) -> str:
    # the `>= 2` predicate mirrors the engine's vacuous-gate rule: below 2
    # documents every term has df = N, MLlib's idf is identically 0, and
    # there is no nonzero ranking to overlap — both engines emit (0, 1)
    return f"""
WITH tfidf_full AS ({tfidf_oracle()}),
ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
  FROM tfidf_full
)
SELECT CAST(count(*) AS BIGINT) AS n_exact, 1 AS overlap_ok
FROM ranked WHERE rn <= {k} AND (SELECT count(*) FROM documents) >= 2
"""


# --------------------------------------------------------------------------- #
# DuckDB oracles (same algorithm, same aliases)
# --------------------------------------------------------------------------- #

def _stemmed_tokens_sql() -> str:
    return stem_sql_select(tokens_cte_duckdb(), token_col="token", extra_cols=", doc_id")


def doc_freq_oracle(top_n: int = 100) -> str:
    return (
        f"SELECT stem AS term, count(DISTINCT doc_id) AS df FROM ({_stemmed_tokens_sql()}) st "
        f"GROUP BY stem ORDER BY df DESC, term ASC LIMIT {top_n}"
    )


def tfidf_oracle(top_n: int = 100, corpus_constant: float = DEFAULT_CORPUS_CONSTANT) -> str:
    return f"""
WITH stemmed AS ({_stemmed_tokens_sql()}),
vocab AS (SELECT stem AS term, count(DISTINCT doc_id) AS df FROM stemmed
          GROUP BY stem ORDER BY df DESC, term ASC LIMIT {top_n}),
tf AS (SELECT s.doc_id, v.term, v.df, count(*) AS tf
       FROM stemmed s JOIN vocab v ON s.stem = v.term
       GROUP BY s.doc_id, v.term, v.df)
SELECT doc_id, term, tf, round(tf * ln({corpus_constant} / (df + 1)), {SCORE_ROUND}) AS score
FROM tf
"""
