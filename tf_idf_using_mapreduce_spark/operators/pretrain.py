"""The composed end-to-end pretraining pipeline: curation → exact dedup →
mixture sampling → sequence packing as ONE declarative query — the artifact
a training run actually consumes, and the proof that the engine's curation
operators COMPOSE (each stage is the registered operator's own logic applied
to the previous stage's survivors, and the DuckDB oracle is the same CTE
chain, so the whole pipeline is value-checked end to end).

Scale shape: curation is map-only; exact dedup is one uniform-key hash
shuffle; mixture is map-only; packing is the two-phase distributed prefix
sum. The id semi-joins between stages are equi-shuffles on doc_id — in
production each stage boundary is a materialized table (the natural
checkpoint/restart points of a multi-day 100 TB run), which also makes the
joins broadcast- or bucket-colocatable; expressed here as one DAG so the
optimizer sees the whole lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.text import TOKENS
from tf_idf_using_mapreduce_spark.operators.curation import (
    curation_decide,
    curation_filter_oracle,
    MIXTURE_SAMPLE_ORACLE,
    mixture_sample_df,
)
from tf_idf_using_mapreduce_spark.operators.packing import (
    MAX_SEQ,
    pack_sequences_of,
)
from tf_idf_using_mapreduce_spark.sources.corpus import load_table, spread


def pretraining_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(seq_id, n_docs, n_tokens): the packed training sequences produced
    from the corpus AFTER the quality cascade drops low-quality docs, exact
    dedup elects one survivor per content hash, and the mixture sampler
    downweights each source — i.e. the full curation pipeline's output in
    shard-manifest form."""
    # spread BEFORE the cascade: the trigram-heavy curation expressions ran
    # on the scan's 1-2 row-group partitions otherwise (measured: 41 s on
    # one core vs 1.4 s spread, sf0.1) — same rationale/threshold as
    # curation_filter
    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source"),
        bytes_per_partition=128 * 1024,
    )
    # the lineage CUT here is load-bearing, not a cache hint: filtering on
    # ``keep`` directly would let predicate pushdown inline the cascade's
    # CASE — with the tokenize expression re-expanded inside each trigram
    # lambda element, turning the map-only cascade O(tokens²) per doc
    # (measured: 34 s vs 0.2 s at sf0.1). Production materializes the
    # decision table at exactly this boundary anyway (it IS the audit log).
    decisions = curation_decide(docs.select("doc_id", "text")).localCheckpoint(eager=False)
    kept = decisions.where(F.col("keep")).select("doc_id")
    kept_docs = docs.join(kept, "doc_id")
    survivors = (
        kept_docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    mixed = (
        mixture_sample_df(docs.select("doc_id", "source"))
        .select("doc_id")
        .join(survivors, "doc_id")
    )
    final = docs.select("doc_id", "text").join(mixed, "doc_id")
    return pack_sequences_of(final)


def pretraining_shards_oracle() -> str:
    m = MAX_SEQ
    return f"""
WITH kept AS (SELECT doc_id FROM ({curation_filter_oracle()}) c WHERE c.keep),
kd AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),
surv AS (SELECT min(doc_id) AS doc_id FROM kd GROUP BY md5(text)),
mixed AS (SELECT mx.doc_id FROM ({MIXTURE_SAMPLE_ORACLE}) mx JOIN surv USING (doc_id)),
corpus AS (SELECT d.doc_id, d.text FROM documents d JOIN mixed USING (doc_id)),
counts AS (SELECT doc_id, len({TOKENS}) AS n FROM corpus),
spans AS (
  SELECT doc_id, n,
         CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS start
  FROM counts
),
binned AS (
  SELECT doc_id, n, start,
         unnest(range(CAST(floor(start / {m}) AS BIGINT),
                      CAST(floor((start + n - 1) / {m}) AS BIGINT) + 1)) AS seq_id
  FROM spans WHERE n > 0
)
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(least(start + n, (seq_id + 1) * {m})
                - greatest(start, seq_id * {m})) AS BIGINT) AS n_tokens
FROM binned GROUP BY seq_id
"""


# --------------------------------------------------------------------------- #
# the full-pipeline manifest: every round-5 stage composed into one DAG
# --------------------------------------------------------------------------- #

def pretraining_manifest(spark: SparkSession, sf_dir: str,
                         n_shards: int | None = None) -> DataFrame:
    """(shard, n_docs, n_tokens, n_shards): the reader-facing shard manifest of the
    COMPLETE curation pipeline — rule cascade AND quality classifier drop
    docs, exact dedup elects one survivor per content hash, the mixture
    sampler downweights each source, survivors are PII-scrubbed, and the
    deterministic training shuffle assigns every doc a shard. Each stage is
    the registered operator's own expression tree over the previous stage's
    survivors; the DuckDB oracle is the same CTE chain, so the END-TO-END
    pipeline is value-checked (on the adversarial fuzz corpus the scrub
    stage really rewrites text, so the manifest token counts prove the
    scrubbed text — not the raw text — is what ships). Scale shape: three
    map-only decision/scrub stages, one uniform-key dedup shuffle, doc_id
    equi-joins at stage boundaries (materialized tables in production), and
    the per-shard counts ride the shuffle's own exchange.

    ``n_shards`` (the training-shuffle shard count — SEMANTIC: it names the
    shards the reader consumes) defaults to the size-derived law over the
    SOURCE table's bytes — the scrubbed survivor frame is a derived lineage
    with no input files of its own, and the source is the right scale proxy
    anyway (survivor count is O(corpus)). Recorded in the manifest's
    ``n_shards`` column so a reader can validate the shard namespace."""
    from tf_idf_using_mapreduce_spark.operators.curation import pii_redaction_df
    from tf_idf_using_mapreduce_spark.operators.packing import (
        SHUFFLE_SHARDS,
        _shard_count_for_pinned_oracle,
        corpus_shuffle_df,
    )
    from tf_idf_using_mapreduce_spark.operators.textstats import quality_classifier_df

    source = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    if n_shards is None:
        n_shards = _shard_count_for_pinned_oracle(
            source, SHUFFLE_SHARDS, "pretraining_manifest"
        )
    docs = spread(source, bytes_per_partition=128 * 1024)
    # same load-bearing lineage cut as pretraining_shards (see above):
    # filtering on the cascade's CASE inline re-expands the tokenizer
    # inside every trigram lambda element
    decisions = curation_decide(docs.select("doc_id", "text")).localCheckpoint(eager=False)
    kept = decisions.where(F.col("keep")).select("doc_id")
    quality = (
        quality_classifier_df(docs.select("doc_id", "text"))
        .where(F.col("quality_label") == "keep")
        .select("doc_id")
    )
    kd = docs.select("doc_id", "text").join(kept, "doc_id").join(quality, "doc_id")
    survivors = (
        kd.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    mixed = (
        mixture_sample_df(docs.select("doc_id", "source"))
        .select("doc_id")
        .join(survivors, "doc_id")
    )
    # lineage cut (r16): TWO consumers (the shard assignment below and the
    # token-count join) — without it the PII regex scrub and its upstream
    # survivor joins ran twice per query. Production materializes the
    # scrubbed survivor table at this boundary anyway (it is the shipped
    # corpus).
    scrubbed = pii_redaction_df(
        docs.select("doc_id", "text").join(mixed, "doc_id")
    ).select("doc_id", F.col("clean_text").alias("text")).localCheckpoint(eager=False)
    sharded = corpus_shuffle_df(
        scrubbed.select("doc_id"), n_shards=n_shards
    ).select("doc_id", "shard")
    return (
        scrubbed.select("doc_id", F.expr(f"size({TOKENS})").alias("n"))
        .join(sharded, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
        )
        .withColumn("n_shards", F.lit(n_shards).cast("long"))
    )


def pretraining_manifest_oracle() -> str:
    from tf_idf_using_mapreduce_spark.operators.curation import PII_REDACTION_ORACLE
    from tf_idf_using_mapreduce_spark.operators.packing import SHUFFLE_SEED, SHUFFLE_SHARDS
    from tf_idf_using_mapreduce_spark.operators.textstats import quality_classifier_oracle

    return f"""
WITH kept AS (SELECT doc_id FROM ({curation_filter_oracle()}) c WHERE c.keep),
q AS (SELECT doc_id FROM ({quality_classifier_oracle()}) qc
      WHERE qc.quality_label = 'keep'),
kd AS (SELECT d.doc_id, d.text FROM documents d
       JOIN kept USING (doc_id) JOIN q USING (doc_id)),
surv AS (SELECT min(doc_id) AS doc_id FROM kd GROUP BY md5(text)),
mixed AS (SELECT mx.doc_id FROM ({MIXTURE_SAMPLE_ORACLE}) mx JOIN surv USING (doc_id)),
pii AS ({PII_REDACTION_ORACLE}),
scrubbed AS (SELECT p.doc_id, p.clean_text AS text
             FROM pii p JOIN mixed USING (doc_id)),
sharded AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(concat('{SHUFFLE_SEED}', ':', CAST(doc_id AS VARCHAR))), 1, 8))
              AS BIGINT) % {SHUFFLE_SHARDS} AS shard
  FROM scrubbed
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({TOKENS})) AS BIGINT) AS n_tokens,
       CAST({SHUFFLE_SHARDS} AS BIGINT) AS n_shards
FROM scrubbed JOIN sharded USING (doc_id)
GROUP BY shard
"""
