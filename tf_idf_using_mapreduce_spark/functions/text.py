"""Text normalization + tokenization (SURVEY.md §2.2 P1-P4).

The reference normalizes per line with ``toLowerCase()`` (P1,
``DocumentFreq.java:61``), strips ``[^a-zA-Z ]`` (P2, ``DocumentFreq.java:62``)
and splits on ``[^\\w']+`` (P3, ``DocumentFreq.java:63``). Post-P2 that is
equivalent to extracting maximal ``[a-z]+`` runs, which is what the engine's
canonical tokenizer does — in ONE portable expression usable verbatim by both
Spark SQL and the DuckDB oracle (``regexp_extract_all`` with an explicit group
index, the only form both dialects share). ``TOKENIZE_SQL`` takes the text
column; ``TOKENS`` is it applied to ``text``, the string every operator and
oracle in the engine pastes into its expressions. ``word_bigrams`` is the
Spark-side adjacent-pair expression over such a token array (the oracles
spell bigrams with DuckDB's ``list_transform``).

Documented divergence: the reference *first* deletes non-letters then splits,
so ``"ab1cd"`` glues to one token ``abcd``; the canonical extractor yields
``ab, cd``. Identical on all-letter corpora (the fixtures).

Stop-word filtering (P4, ``DocumentFreq.java:66-68``) applies to the RAW token
*before* stemming (quirk Q2) and is ONE SQL predicate, ``token NOT IN
(stop-list)``, over the same list text the oracle pastes
(``stopwords_sql_list``). Catalyst folds the literals into one
``NOT token INSET (...)``. The predicate is parsed from SQL text on purpose:
``Column.isin(*words)`` builds the same filter from one py4j call per
literal, ~1.5k gateway round trips and ~0.25 s of driver time per build.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.sources.corpus import stopwords_sql_list

# One portable tokenizer expression: maximal lowercase-letter runs.
TOKENIZE_SQL = "regexp_extract_all(lower({col}), '([a-z]+)', 1)"
TOKENS = TOKENIZE_SQL.format(col="text")


def word_bigrams(col: str) -> Column:
    """array<struct<w1, w2>> of adjacent pairs of the token array ``col``.

    CASE-guarded (total) like the shingle expressions: Catalyst CSE can
    evaluate this inside a reordered Filter predicate, where a <2-token doc
    would hit sequence()'s descending branch and ``col[i]`` would raise
    under ANSI (pinned by tests/test_fuzz_dialect.py's short documents)."""
    return F.expr(
        f"CASE WHEN size({col}) >= 2 THEN "
        f"transform(sequence(0, size({col}) - 2), i -> named_struct('w1', {col}[i], 'w2', {col}[i+1])) "
        "ELSE array() END"
    )


def explode_tokens(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   case_sensitive: bool = False) -> DataFrame:
    """(id, token) rows. ``case_sensitive`` mirrors the reference's
    ``-casesensitive`` flag (P1; lowercasing is the default)."""
    arr = F.expr(
        f"regexp_extract_all({text_col}, '([a-zA-Z]+)', 1)" if case_sensitive
        else TOKENIZE_SQL.format(col=text_col)
    )
    return df.select(F.col(id_col), F.explode(arr).alias("token"))


def filter_stopwords(df: DataFrame, token_col: str = "token") -> DataFrame:
    """P4/J2: drop stop-list tokens (raw token, pre-stem — quirk Q2)."""
    return df.where(F.expr(f"{token_col} NOT IN {stopwords_sql_list()}"))


# ---------------------------------------------------------------------------
# Oracle-side SQL builders (DuckDB dialect for the explode step only; the
# tokenizer expression itself is shared with Spark via TOKENIZE_SQL)
# ---------------------------------------------------------------------------

def tokens_cte_duckdb(table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text", filter_stop: bool = True) -> str:
    """DuckDB SELECT producing (id, token) — unnest replaces explode."""
    tok = TOKENIZE_SQL.format(col=text_col)
    sql = f"SELECT {id_col}, unnest({tok}) AS token FROM {table}"
    if filter_stop:
        sql = f"SELECT {id_col}, token FROM ({sql}) rawtoks WHERE token NOT IN {stopwords_sql_list()}"
    return sql
