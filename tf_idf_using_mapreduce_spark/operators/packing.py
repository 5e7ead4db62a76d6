"""Sequence packing / chunking (training-data extension): the step between a
curated corpus and training shards — split long documents to the model's
context length, and pack the token stream into fixed-length sequences.

Scale design (100 TB):
- ``doc_chunks`` is MAP-ONLY: chunking is per-document array math, no
  exchange at any corpus size.
- ``pack_sequences`` needs a GLOBAL prefix sum (each document's token offset
  in the concatenated corpus). A bare ``Window.orderBy`` with no partition
  key would drag the whole table into ONE task — the classic scale killer —
  so it runs the standard two-phase distributed prefix sum instead:
  range-partition by the pack order, per-partition token subtotals (one tiny
  row per partition) broadcast back as offsets, then a WITHIN-partition
  running sum. The only global state is the per-partition subtotal list —
  O(partitions), not O(rows). The DuckDB oracle is the plain window cumsum,
  which proves the two-phase plan computes the identical prefix sum.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.text import TOKENS
from tf_idf_using_mapreduce_spark.sources.corpus import _file_split_stats, load_table


CHUNK_LEN = 50    # tokens per document chunk (stand-in for context length)
MAX_SEQ = 256     # tokens per packed training sequence

# compressed parquet bytes a single prefix-sum task may own: the within-
# partition window sorts/scans this much input per task, so it bounds
# per-task memory and wall-clock independent of corpus size
PACK_BYTES_PER_PARTITION = 8 * 1024 * 1024


def _derive_prefix_partitions(total_bytes: int, parallelism: int) -> int:
    """Partition count for the two-phase prefix sum: enough that (a) every
    core has work and (b) no single range partition exceeds
    ``PACK_BYTES_PER_PARTITION`` compressed bytes. Pure so the scaling law is
    unit-testable: grows linearly with input bytes past the parallelism
    floor — at 100 TB this is ~13M partitions of bounded size, never
    ``corpus/8`` rows in one task (the round-4 fixed default)."""
    by_bytes = math.ceil(total_bytes / PACK_BYTES_PER_PARTITION) if total_bytes > 0 else 0
    return max(parallelism, by_bytes, 1)


def _input_bytes(docs: DataFrame) -> int:
    """Compressed on-disk bytes behind a DataFrame (parquet footer stats,
    memoized — same estimator as ``spread()``). Unknown layouts (in-memory
    frames, non-local sources, derived frames with no input files) report 0
    so callers fall back to their floor."""
    total = 0
    try:
        for p in docs.inputFiles():
            if p.startswith(("file:", "/")):
                total += _file_split_stats(p.removeprefix("file:"))[0]
    except Exception:
        total = 0
    return total


def _prefix_partitions(docs: DataFrame) -> int:
    """Partition count for the two-phase prefix sum, from input bytes."""
    return _derive_prefix_partitions(
        _input_bytes(docs), docs.sparkSession.sparkContext.defaultParallelism
    )


# compressed input bytes a single rank-window task may own in the sharded
# window operators (corpus_shuffle / length_bucket_batches): each (shard)
# or (bucket, shard) window is ONE task over ~corpus/n_shards rows, so the
# shard count — not the partition count — is what bounds per-task volume
SHARD_BYTES_PER_SHARD = 32 * 1024 * 1024


def _derive_shard_count(total_bytes: int, floor: int,
                        bytes_per_shard: int = SHARD_BYTES_PER_SHARD) -> int:
    """Shard count for the rank-window operators: the pinned ``floor`` at
    fixture scale (so the committed oracles stay byte-stable), growing
    linearly with input bytes past it — at 100 TB this is ~3M shards of
    ≤32 MiB compressed input each, never corpus/32 rows in one window task.
    Pure, so the scaling law is unit-testable (same discipline as
    ``_derive_prefix_partitions``). Shard count is SEMANTIC (it appears in
    the output), so every operator that derives it also RECORDS it in an
    ``n_shards`` output column."""
    by_bytes = math.ceil(total_bytes / bytes_per_shard) if total_bytes > 0 else 0
    return max(floor, by_bytes, 1)


def _shard_count_for_pinned_oracle(docs: DataFrame, floor: int, name: str) -> int:
    """Derive the shard count for a REGISTRY entry whose committed DuckDB
    oracle pins the floor as a constant. At fixture scale derived == floor
    by construction; if the fixture ever grows past the derivation
    threshold (floor × SHARD_BYTES_PER_SHARD compressed bytes) the derived
    count — and with it every shard/pos value — would silently diverge
    from the pinned oracle as a confusing full-output hash mismatch. Fail
    EXPLICITLY instead, naming the fix. Library callers are unaffected:
    the ``*_df`` forms take ``n_shards`` directly and never pin."""
    derived = _derive_shard_count(_input_bytes(docs), floor)
    if derived != floor:
        raise ValueError(
            f"{name}: derived shard count {derived} exceeds the floor {floor} "
            f"pinned in the committed oracle SQL — the verification fixture "
            f"grew past the size-law threshold. Re-pin the oracle's n_shards "
            f"constant (and shard arithmetic) to {derived}, or call the *_df "
            f"form with an explicit n_shards."
        )
    return derived


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_idx, n_tokens, chunk_text): each document split into
    consecutive ``CHUNK_LEN``-token chunks — the split-to-context-length
    step. Map-only (per-row array math); documents with no tokens produce
    no chunks. The chunk expression is CASE-guarded (total) like the
    shingle/bigram expressions."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    k = CHUNK_LEN
    return (
        docs.select("doc_id", F.expr(TOKENS).alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) > 0 THEN "
                    f"sequence(0, cast(ceil(size(toks) / {k}.0) as int) - 1) "
                    "ELSE array() END"
                )
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.expr(f"size(slice(toks, chunk_idx * {k} + 1, {k}))").alias("n_tokens"),
            F.expr(f"concat_ws(' ', slice(toks, chunk_idx * {k} + 1, {k}))").alias("chunk_text"),
        )
    )


DOC_CHUNKS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS} AS toks FROM documents
),
ix AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {CHUNK_LEN}.0) AS INT))) AS chunk_idx
  FROM toks WHERE len(toks) > 0
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, chunk_idx * {CHUNK_LEN} + 1,
                           chunk_idx * {CHUNK_LEN} + {CHUNK_LEN})) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, chunk_idx * {CHUNK_LEN} + 1,
                                  chunk_idx * {CHUNK_LEN} + {CHUNK_LEN}), ' ') AS chunk_text
FROM ix
"""


def offsets_from_counts(counts: DataFrame, n_partitions: int) -> DataFrame:
    """(doc_id, n, start) from ANY precomputed (doc_id, n) frame: the
    DISTRIBUTED two-phase prefix sum in doc_id order.
    Phase 1: range-partition by doc_id, subtotal per partition (tiny).
    Phase 2: broadcast the partition offsets back, run the window WITHIN
    each partition only. No single-task global window anywhere. Shared by
    the word-token and BPE-token packers — the token BASIS is the caller's
    choice, the prefix-sum discipline is not."""
    counts = counts.repartitionByRange(n_partitions, "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    # one row per partition: (pid, subtotal); running offset via a window
    # over the TINY partition table (O(partitions) rows, not O(docs))
    part_totals = counts.groupBy("pid").agg(F.sum("n").alias("subtotal"))
    w_parts = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = part_totals.withColumn(
        "part_offset", F.coalesce(F.sum("subtotal").over(w_parts), F.lit(0))
    ).select("pid", "part_offset")
    w_in = (
        Window.partitionBy("pid").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        counts.join(F.broadcast(offsets), "pid")
        .withColumn("start", F.col("part_offset") + F.coalesce(F.sum("n").over(w_in), F.lit(0)))
        .select("doc_id", "n", "start")
    )


def token_offsets_of(docs: DataFrame,
                     n_partitions: int | None = None) -> DataFrame:
    """(doc_id, n, start) over ANY (doc_id, text) frame: each document's
    WORD-token count and its exclusive prefix sum in doc_id order — the
    two-phase prefix sum (:func:`offsets_from_counts`). The partition count
    derives from input bytes (``_prefix_partitions``) so per-task volume
    stays bounded as the corpus grows; pass ``n_partitions`` explicitly only
    in tests."""
    if n_partitions is None:
        n_partitions = _prefix_partitions(docs)
    return offsets_from_counts(
        docs.select("doc_id", F.expr(f"size({TOKENS})").alias("n")), n_partitions
    )


def pack_bins_of(spans: DataFrame, max_seq: int = MAX_SEQ) -> DataFrame:
    """(seq_id, n_docs, n_tokens) from a (doc_id, n, start) span frame: each
    document expands to the fixed-length sequences it overlaps (≤ a few per
    doc), then one groupBy — the packing tail shared by both token bases."""
    binned = spans.where(F.col("n") > 0).select(
        "doc_id", "n", "start",
        F.explode(
            F.expr(f"sequence(cast(floor(start / {max_seq}) as long), "
                   f"cast(floor((start + n - 1) / {max_seq}) as long))")
        ).alias("seq_id"),
    )
    overlap = F.expr(
        f"least(start + n, (seq_id + 1) * {max_seq}) - greatest(start, seq_id * {max_seq})"
    )
    return binned.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(overlap).alias("n_tokens"),
    )


def pack_sequences_of(docs: DataFrame) -> DataFrame:
    """:func:`pack_sequences` over ANY (doc_id, text) frame — the composable
    form the end-to-end pipeline (``operators/pretrain.py``) packs its
    curated survivors with."""
    return pack_bins_of(token_offsets_of(docs))


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seq_id, n_docs, n_tokens): concatenate the corpus token stream in
    doc_id order and split it into ``MAX_SEQ``-token training sequences —
    exactly how LLM pretraining packs documents (a doc may straddle two
    sequences). Each document expands to the bins it overlaps (≤ a few per
    doc), then one groupBy; the prefix sum underneath is the two-phase
    distributed form (see ``token_offsets_of``)."""
    return pack_sequences_of(load_table(spark, sf_dir, "documents"))


PACK_SEQUENCES_ORACLE = f"""
WITH counts AS (
  SELECT doc_id, len({TOKENS}) AS n FROM documents
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


# --------------------------------------------------------------------------- #
# deterministic global training shuffle (shard + in-shard order)
# --------------------------------------------------------------------------- #

SHUFFLE_SEED = "epoch0"  # new epoch = new seed = a fresh full permutation
SHUFFLE_SHARDS = 32      # FLOOR of the size-derived shard law (= the derived
                         # value at fixture scale, so committed oracles pin it)


def corpus_shuffle_df(docs: DataFrame, seed: str = SHUFFLE_SEED,
                      n_shards: int | None = None) -> DataFrame:
    """(doc_id, shard, pos, n_shards) over any (doc_id,) frame: the
    deterministic global shuffle every pretraining run needs before reading
    the corpus as a stream. Each doc gets a seeded md5 shuffle key; its
    shard is a hash bucket of that key and its position is the rank of the
    key WITHIN the shard — so (shard asc, pos asc) is a reproducible
    pseudo-random permutation of the corpus on any engine, any
    partitioning, any row order (none of which holds for
    ``df.orderBy(rand())``). Scale: ONE shuffle on the shard key; each rank
    window covers corpus/n_shards rows, and ``n_shards`` defaults to the
    size-derived ``_derive_shard_count`` law (floor ``SHUFFLE_SHARDS``), so
    per-task window volume stays bounded as the corpus grows — there is no
    global single-task sort anywhere. The shard count is part of the
    output's meaning (two runs with different counts are different
    permutations), so it is RECORDED in the ``n_shards`` column; callers
    that must reproduce a specific manifest pass it explicitly."""
    if n_shards is None:
        n_shards = _derive_shard_count(_input_bytes(docs), SHUFFLE_SHARDS)
    key = f"md5(concat('{seed}', ':', cast(doc_id as string)))"
    shard = f"cast(conv(substr({key}, 1, 8), 16, 10) as bigint) % {n_shards}"
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        docs.select(
            "doc_id",
            F.expr(key).alias("shuffle_key"),
            F.expr(shard).alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w) - 1)
        .select(
            "doc_id",
            "shard",
            F.col("pos").cast("long").alias("pos"),
            F.lit(n_shards).cast("long").alias("n_shards"),
        )
    )


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: shuffle the documents table for training epoch 0."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return corpus_shuffle_df(
        docs,
        n_shards=_shard_count_for_pinned_oracle(docs, SHUFFLE_SHARDS, "corpus_shuffle"),
    )


CORPUS_SHUFFLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         md5(concat('{SHUFFLE_SEED}', ':', CAST(doc_id AS VARCHAR))) AS shuffle_key,
         CAST(('0x' || substr(md5(concat('{SHUFFLE_SEED}', ':', CAST(doc_id AS VARCHAR))), 1, 8))
              AS BIGINT) % {SHUFFLE_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) - 1
            AS BIGINT) AS pos,
       CAST({SHUFFLE_SHARDS} AS BIGINT) AS n_shards
FROM keyed
"""


# --------------------------------------------------------------------------- #
# length-bucketed batching (pad-efficient dynamic batching)
# --------------------------------------------------------------------------- #

BUCKET_WIDTH = 64   # token-length bucket granularity
BATCH_DOCS = 8      # documents per batch
BATCH_SHARDS = 4    # FLOOR of the size-derived shard law (fixture-pinned)


def length_bucket_batches_df(docs: DataFrame,
                             n_shards: int | None = None) -> DataFrame:
    """(bucket_id, shard, batch_idx, n_docs, max_tokens, padded_tokens,
    pad_waste_tokens, n_shards) over any (doc_id, text) frame: documents
    grouped into similar-length buckets and cut into fixed-size batches,
    with the padding cost each batch pays to its longest member — the
    pad-efficient dynamic batching every variable-length training loader
    implements (bucketing cuts padding from O(maxlen) to O(bucket width)
    per doc). Batch formation is a rank window PER (bucket, shard): the
    hash shard bounds the rows any single window task sees, and
    ``n_shards`` defaults to the size-derived ``_derive_shard_count`` law
    (floor ``BATCH_SHARDS``) so scaling the corpus scales shard count, not
    task size — same discipline as ``corpus_shuffle_df``, and a popular
    length bucket can never put corpus/4 rows through one task at 100×.
    The shard count shapes the batch assignment itself, so it is RECORDED
    in the ``n_shards`` column. All outputs are exact integers; no float
    can wobble under aggregation order."""
    if n_shards is None:
        n_shards = _derive_shard_count(_input_bytes(docs), BATCH_SHARDS)
    n = f"size({TOKENS})"
    shard = (
        f"cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"
        f" % {n_shards}"
    )
    base = (
        docs.select(
            "doc_id",
            F.expr(n).alias("n_tokens"),
            F.expr(shard).alias("shard"),
        )
        .where(F.col("n_tokens") > 0)
        .withColumn("bucket_id", F.expr(f"cast(floor(n_tokens / {BUCKET_WIDTH}) as bigint)"))
    )
    w = Window.partitionBy("bucket_id", "shard").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    batched = base.withColumn("rn", F.row_number().over(w)).withColumn(
        "batch_idx", F.expr(f"cast(floor((rn - 1) / {BATCH_DOCS}) as bigint)")
    )
    return (
        batched.groupBy("bucket_id", "shard", "batch_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            (F.max("n_tokens") * F.count(F.lit(1))).alias("padded_tokens"),
            (F.max("n_tokens") * F.count(F.lit(1)) - F.sum("n_tokens")).alias(
                "pad_waste_tokens"
            ),
        )
        .withColumn("n_shards", F.lit(n_shards).cast("long"))
    )


def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: pad-efficient batches over the documents table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return length_bucket_batches_df(
        docs,
        n_shards=_shard_count_for_pinned_oracle(
            docs, BATCH_SHARDS, "length_bucket_batches"
        ),
    )


LENGTH_BUCKET_BATCHES_ORACLE = f"""
WITH base AS (
  SELECT doc_id, len({TOKENS}) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {BATCH_SHARDS} AS shard,
         CAST(floor(len({TOKENS}) / {BUCKET_WIDTH}) AS BIGINT) AS bucket_id
  FROM documents
  WHERE len({TOKENS}) > 0
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY bucket_id, shard
                               ORDER BY n_tokens DESC, doc_id ASC) AS rn
  FROM base
)
SELECT bucket_id, shard,
       CAST(floor((rn - 1) / {BATCH_DOCS}) AS BIGINT) AS batch_idx,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(max(n_tokens) * count(*) AS BIGINT) AS padded_tokens,
       CAST(max(n_tokens) * count(*) - sum(n_tokens) AS BIGINT) AS pad_waste_tokens,
       CAST({BATCH_SHARDS} AS BIGINT) AS n_shards
FROM ranked
GROUP BY bucket_id, shard, CAST(floor((rn - 1) / {BATCH_DOCS}) AS BIGINT)
"""


# --------------------------------------------------------------------------- #
# intra-document chunk dedup (apply step)
# --------------------------------------------------------------------------- #

def doc_chunk_dedup_df(docs: DataFrame) -> DataFrame:
    """Expression form of :func:`doc_chunk_dedup` over any (doc_id, text)
    frame — reused verbatim by the streaming twin (map-only ⇒ trivially
    streaming-safe: no watermark, no state store)."""
    k = CHUNK_LEN
    chunks = (
        "CASE WHEN size(toks) > 0 THEN "
        f"transform(sequence(0, cast(ceil(size(toks) / {k}.0) as int) - 1), "
        f"i -> concat_ws(' ', slice(toks, i * {k} + 1, {k}))) "
        "ELSE array() END"
    )
    return (
        docs.select("doc_id", F.expr(TOKENS).alias("toks"))
        .select("doc_id", F.expr(chunks).alias("chunks"))
        .select(
            "doc_id",
            F.expr("cast(size(chunks) as bigint)").alias("n_chunks"),
            F.expr(
                "cast(size(chunks) - size(array_distinct(chunks)) as bigint)"
            ).alias("n_dropped"),
            F.expr("concat_ws(' ', array_distinct(chunks))").alias("clean_text"),
        )
    )


def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chunks, n_dropped, clean_text): remove REPEATED
    ``CHUNK_LEN``-token chunks WITHIN each document, keeping the first
    occurrence in document order and reassembling the cleaned text — the
    intra-document repetition APPLY step (the RefinedWeb-style repeated-
    passage removal, done at chunk granularity because the fixture corpus
    has no line structure). :func:`curation.doc_repetition` is the census
    (trigram dup ratio, filter decision); this is the edit. Cross-document
    repeats are the ExactSubstr family's job (``dedup_substring_apply``).

    Scale shape: MAP-ONLY — chunking, first-occurrence dedup
    (``array_distinct`` preserves first-occurrence order), and reassembly
    are per-row array math; every document survives (apply semantics), no
    exchange at any corpus size. The oracle proves the order contract with
    an explicit ordinality window instead of relying on DuckDB's
    list_distinct ordering."""
    return doc_chunk_dedup_df(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


DOC_CHUNK_DEDUP_ORACLE = f"""
WITH toks AS (SELECT doc_id, text, {TOKENS} AS toks FROM documents),
-- DISTINCT before unnest: two IDENTICAL (doc_id, text) rows must not
-- double every chunk inside their shared agg group (the fan-back join
-- below restores the row multiplicity)
dtoks AS (SELECT DISTINCT doc_id, text, toks FROM toks WHERE len(toks) > 0),
ix AS (
  SELECT doc_id, text, toks,
         unnest(range(0, CAST(ceil(len(toks) / {CHUNK_LEN}.0) AS INT))) AS ci
  FROM dtoks
),
ch AS (
  SELECT doc_id, text, ci,
         array_to_string(list_slice(toks, ci * {CHUNK_LEN} + 1,
                                    ci * {CHUNK_LEN} + {CHUNK_LEN}), ' ') AS chunk
  FROM ix
),
firsts AS (
  SELECT doc_id, text, ci, chunk,
         row_number() OVER (PARTITION BY doc_id, text, chunk ORDER BY ci) AS rn
  FROM ch
),
-- keyed by (doc_id, text), NOT doc_id alone: the Spark op is per-ROW
-- (map-only), so duplicate doc_ids with DIFFERENT texts must each scrub
-- their own text; duplicate (doc_id, text) rows collapse to one agg row
-- that fans back identically through the join — same multiset as Spark.
-- IS NOT DISTINCT FROM: a NULL doc_id row must still find its agg row.
agg AS (
  SELECT doc_id, text,
         count(*) AS n_chunks,
         count(*) FILTER (WHERE rn > 1) AS n_dropped,
         string_agg(chunk, ' ' ORDER BY ci) FILTER (WHERE rn = 1) AS clean_text
  FROM firsts GROUP BY doc_id, text
)
SELECT t.doc_id,
       CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(a.n_dropped, 0) AS BIGINT) AS n_dropped,
       coalesce(a.clean_text, '') AS clean_text
FROM toks t LEFT JOIN agg a
  ON a.doc_id IS NOT DISTINCT FROM t.doc_id
 AND a.text IS NOT DISTINCT FROM t.text
"""


# --------------------------------------------------------------------------- #
# z-order layout (data-skipping clustering)
# --------------------------------------------------------------------------- #

ZORDER_GRID_BITS = 8          # grid resolution per dimension (256 x 256)
ZORDER_BUCKET_SHIFT = 10      # 2*8-bit z-values >> 10 -> 64 layout buckets


def _interleave_expr(gx: str, gy: str, bits: int, spark_side: bool) -> str:
    """Bit-interleaved z-value of two ``bits``-wide grid coordinates: x in
    the even bit positions, y in the odd — the Morton curve, as a plain
    total expression in either dialect (no UDF; ``bits`` terms per input)."""
    terms = []
    for i in range(bits):
        if spark_side:
            terms.append(f"shiftleft(shiftright({gx}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({gy}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({gx} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({gy} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n, pk_min, pk_max, sk_min, sk_max): lineitem clustered into
    64 layout buckets by the Z-ORDER (Morton) value of (l_partkey,
    l_suppkey) — the write-side data-layout operator that makes parquet
    min/max footer pruning effective on BOTH filter columns at once. Each
    output row is one would-be file's footer stats: because the Morton
    curve maps bucket-contiguous z-ranges to BOUNDED rectangles in
    (partkey, suppkey) space, every bucket spans ~1/2^ceil(b/2) of each
    dimension instead of (linear layout) all of one and 100% of the other —
    so a predicate on EITHER key prunes ~that fraction of files at the
    scan, before any I/O. At 100 TB this is the difference between a scan
    that touches 1/16 of the files and one that touches all of them.

    Scale shape: grid bounds are one scalar aggregate (broadcast single-row
    cross join, the engine's blessed pattern for corpus-level constants);
    the z-value is per-row bit math; the layout report is one hash
    aggregation on the bucket id. In production the same z expression feeds
    ``repartitionByRange(z).sortWithinPartitions(z)`` + parquet write; the
    report form keeps the operator oracled end-to-end."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.coalesce(F.max("l_partkey"), F.lit(0)).alias("max_pk"),
        F.coalesce(F.max("l_suppkey"), F.lit(0)).alias("max_sk"),
    )
    side = 1 << ZORDER_GRID_BITS
    grid = li.crossJoin(F.broadcast(bounds)).select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            f"cast(floor(l_partkey * {side}.0 / (max_pk + 1)) as int)"
        ).alias("gx"),
        F.expr(
            f"cast(floor(l_suppkey * {side}.0 / (max_sk + 1)) as int)"
        ).alias("gy"),
    )
    z = _interleave_expr("gx", "gy", ZORDER_GRID_BITS, spark_side=True)
    return (
        grid.select(
            "l_partkey",
            "l_suppkey",
            F.expr(f"cast(shiftright({z}, {ZORDER_BUCKET_SHIFT}) as bigint)").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_partkey").alias("pk_min"),
            F.max("l_partkey").alias("pk_max"),
            F.min("l_suppkey").alias("sk_min"),
            F.max("l_suppkey").alias("sk_max"),
        )
    )


def _zorder_oracle() -> str:
    side = 1 << ZORDER_GRID_BITS
    z = _interleave_expr("gx", "gy", ZORDER_GRID_BITS, spark_side=False)
    return f"""
WITH bounds AS (
  SELECT coalesce(max(l_partkey), 0) AS max_pk,
         coalesce(max(l_suppkey), 0) AS max_sk
  FROM lineitem
),
grid AS (
  SELECT l_partkey, l_suppkey,
         CAST(floor(l_partkey * {side}.0 / (max_pk + 1)) AS INT) AS gx,
         CAST(floor(l_suppkey * {side}.0 / (max_sk + 1)) AS INT) AS gy
  FROM lineitem CROSS JOIN bounds
)
SELECT CAST({z} >> {ZORDER_BUCKET_SHIFT} AS BIGINT) AS bucket,
       count(*) AS n,
       min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
       min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
FROM grid
GROUP BY 1
"""


ZORDER_LAYOUT_ORACLE = _zorder_oracle()


def zorder_write(df: DataFrame, col_x: str, col_y: str, out_dir: str,
                 n_files: int = 16) -> list[dict]:
    """Write ``df`` as parquet physically CLUSTERED on the Morton value of
    (``col_x``, ``col_y``) — the production form of :func:`zorder_layout`:
    ``repartitionByRange`` on the z-value (contiguous z-ranges per output
    file) + ``sortWithinPartitions`` (row groups inside a file stay
    z-local, so footer min/max stats are tight on BOTH columns). Grid
    bounds come from the same single-row broadcast aggregate as the report
    form. Downstream, a predicate on EITHER column skips all files whose
    footer rectangle misses it — measured by tests/test_packing.py reading
    the written footers directly (pyarrow), not assumed. Returns the
    written files' footer report (``sources.corpus.parquet_file_stats``) —
    clustering quality AND small-files health in one write."""
    # dunder-prefixed internals: a caller's df may legitimately carry
    # columns named gx/zval/max_x — never clobber or drop user data
    bounds = df.agg(
        F.coalesce(F.max(col_x), F.lit(0)).alias("__zorder_max_x"),
        F.coalesce(F.max(col_y), F.lit(0)).alias("__zorder_max_y"),
    )
    side = 1 << ZORDER_GRID_BITS
    z = _interleave_expr("__zorder_gx", "__zorder_gy", ZORDER_GRID_BITS,
                         spark_side=True)
    (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__zorder_gx", F.expr(
            f"cast(floor({col_x} * {side}.0 / (__zorder_max_x + 1)) as int)"))
        .withColumn("__zorder_gy", F.expr(
            f"cast(floor({col_y} * {side}.0 / (__zorder_max_y + 1)) as int)"))
        .withColumn("__zorder_z", F.expr(z))
        .repartitionByRange(n_files, "__zorder_z")
        .sortWithinPartitions("__zorder_z")
        .drop("__zorder_gx", "__zorder_gy", "__zorder_z",
              "__zorder_max_x", "__zorder_max_y")
        .write.mode("overwrite").parquet(out_dir)
    )
    from tf_idf_using_mapreduce_spark.sources.corpus import parquet_file_stats

    return parquet_file_stats(out_dir)


# --------------------------------------------------------------------------- #
# small-file compaction (OPTIMIZE-style table rewrite)
# --------------------------------------------------------------------------- #

# deliberate fragmentation level for the round-trip fixture (one file per
# task of a wide ingest job — the pathological layout streaming ingest
# produces) and the rewrite's target file size
FRAG_FILES = 48
COMPACT_TARGET_MB = 128


def _compact_file_count(total_bytes: int, target_mb: int = COMPACT_TARGET_MB) -> int:
    """Output file count for a compaction rewrite: sized from the source
    files' ON-DISK bytes (compressed in ≈ compressed out for a same-codec
    rewrite), never from row counts — row width varies 1000× across tables."""
    import math as _math

    return max(1, _math.ceil(total_bytes / (target_mb * 1024 * 1024)))


def _fragmented_docs(spark: SparkSession, sf_dir: str):
    """A write-once, deliberately over-fragmented copy of ``documents``
    (FRAG_FILES tiny files — the shape a per-task streaming ingest leaves
    behind), keyed by corpus identity like every persisted layout."""
    from tf_idf_using_mapreduce_spark.operators.persisted import _ensure_index

    def writer(df: DataFrame, name: str) -> None:
        (df.repartition(FRAG_FILES)
         .write.mode("overwrite").format("parquet").saveAsTable(name))

    return _ensure_index(spark, sf_dir, "docs_frag",
                         lambda: load_table(spark, sf_dir, "documents"),
                         writer=writer)


def _compacted_docs(spark: SparkSession, sf_dir: str):
    """The OPTIMIZE-style rewrite of :func:`_fragmented_docs`: the same rows,
    re-laid-out into ``ceil(on-disk bytes / COMPACT_TARGET_MB)`` files. A
    pure layout operation — no predicate, no projection — so the rewrite
    must be value-identical (the oracle checks it against the ORIGINAL
    table, not the fragmented copy: two layout hops, zero data drift)."""
    from tf_idf_using_mapreduce_spark.operators.persisted import _ensure_index

    frag = _fragmented_docs(spark, sf_dir)
    if frag is None:
        return None

    def writer(df: DataFrame, name: str) -> None:
        total = sum(
            _file_split_stats(p.removeprefix("file:"))[0]
            for p in df.inputFiles()
            if p.startswith(("file:", "/"))
        )
        n = _compact_file_count(total)
        df.repartition(n).write.mode("overwrite").format("parquet").saveAsTable(name)

    return _ensure_index(spark, sf_dir, "docs_compact",
                         lambda: spark.table(frag), writer=writer)


def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, total_chars, n_distinct_texts): per-source content
    census read from the COMPACTED documents table — the end of a
    fragment → compact round trip (48 tiny files → target-sized files,
    tests/test_packing.py measures both layouts' footers with pyarrow).
    The oracle computes the same census from the pristine ``documents``
    view, so a green row proves the OPTIMIZE-style rewrite preserved every
    row's content through two physical re-layouts: count, total characters,
    and the distinct md5 content-hash census all survive. At 100 TB this is
    the maintenance job that keeps scan cost proportional to DATA size, not
    to the ingest job's task count (small files = per-file open/footer/
    schedule overhead dominating the read)."""
    name = _compacted_docs(spark, sf_dir)
    docs = (spark.table(name) if name is not None
            else load_table(spark, sf_dir, "documents"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.countDistinct(F.md5(F.col("text").cast("binary")))
        .alias("n_distinct_texts"),
    )


COMPACTION_ROUNDTRIP_ORACLE = """
SELECT source, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       count(DISTINCT md5(text)) AS n_distinct_texts
FROM documents
GROUP BY 1
"""
