"""Python UDTF surface (SURVEY.md §2.10 — the reference's free-form ``map()``
is simultaneously a scalar UDF, flat-map UDTF, and stripe (MapWritable)
producer; Spark splits those into first-class constructs).

:func:`sentence_split_udtf` is a lateral table function (1 row → N rows with
extra columns), the UDTF face of the reference's in-map ``context.write``
loop. The per-document stripe is the (doc_id, term, tf) counts table of
``operators.tfidf.term_counts_of``.
"""

from __future__ import annotations


def sentence_split_udtf():
    """Build the UDTF class lazily (needs an active session at registration).

    Yields (sentence_idx, sentence, n_words) rows per input text.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx int, sentence string, n_words int")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            for i, raw in enumerate(text.split(".")):
                s = raw.strip()
                if s:
                    yield i, s, len(s.split())

    return SentenceSplit
