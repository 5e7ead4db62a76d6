"""Drop-in equivalents of the reference's three CLI entry points (SURVEY.md
§3) for users migrating from ``hadoop jar`` invocations. Each mirrors one
``main()``:

- ``run_pos_counts``      ≙ ``hadoop jar POS.jar POS <in> <out>``  (README.md:8)
- ``run_doc_freq``        ≙ ``hadoop jar DocFreq.jar DocumentFreq <in> <out>
                              -skippatterns stopwords.txt``        (README.md:12)
- ``run_tfidf``           ≙ ``hadoop jar IDF.jar IDF <in> <out>
                              -skippatterns ... -tsv <df.tsv>``    (README.md:18)

Inputs are reference-layout text directories (one document per file); outputs
are TSV directories (single-file for the top-k result, matching the
reference's one-reducer contract, README.md:14-15). ``run_tfidf`` accepts an
optional precomputed DF TSV (the reference's 2-job filesystem handoff, S8) or
— the Spark-native default — computes the vocabulary in the same DAG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.functions.postag import explode_pos_tokens, with_pos_tag
from tf_idf_using_mapreduce_spark.operators.tfidf import (
    DEFAULT_CORPUS_CONSTANT,
    _score_col,
    doc_freq_of,
    term_counts_of,
    tfidf_of,
)
from tf_idf_using_mapreduce_spark.sources.corpus import read_text_corpus, read_tsv, write_tsv


def run_pos_counts(spark: SparkSession, input_dir: str, output_dir: str) -> DataFrame:
    docs = read_text_corpus(spark, input_dir)
    out = with_pos_tag(explode_pos_tokens(docs)).groupBy("tag").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    write_tsv(out, output_dir, single_file=True)
    return out


def run_doc_freq(spark: SparkSession, input_dir: str, output_dir: str, top_n: int = 100) -> DataFrame:
    docs = read_text_corpus(spark, input_dir)
    out = doc_freq_of(docs, top_n=top_n)
    write_tsv(out, output_dir, single_file=True)
    return out


def run_tfidf(spark: SparkSession, input_dir: str, output_dir: str,
              df_tsv: str | None = None, top_n: int = 100,
              corpus_constant: float = DEFAULT_CORPUS_CONSTANT) -> DataFrame:
    """TF-IDF over a text-dir corpus. ``df_tsv`` replays the reference's
    filesystem handoff (S4/S8: the DF job's TSV as broadcast side input,
    joined onto the same counts table and scored by the same expression as
    :func:`tfidf_of`); omitted, the vocabulary is computed in the same DAG
    (the Spark-native shape — no materialization)."""
    docs = read_text_corpus(spark, input_dir)
    if df_tsv is None:
        out = tfidf_of(docs, top_n=top_n, corpus_constant=corpus_constant)
    else:
        vocab = read_tsv(spark, df_tsv, "term string, df int")
        out = term_counts_of(docs).join(F.broadcast(vocab), "term").select(
            "doc_id", "term", "tf", _score_col(corpus_constant).alias("score")
        )
    write_tsv(out, output_dir)
    return out
