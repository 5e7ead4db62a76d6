"""PySpark-native analytics engine with the query/data-processing capabilities of
the reference ``Chinthan23/TF-IDF-using-MapReduce`` (Hadoop MapReduce TF-IDF / POS
assignment), re-expressed Spark-first (DataFrame/SQL/Catalyst), plus the relational
and training-data-pipeline extensions described in SURVEY.md.

Design stance (SURVEY.md §7.0): every public operator is a composable
``DataFrame -> DataFrame`` function; expressions stay JVM-side (built-in
``pyspark.sql.functions`` / ``F.expr``) wherever possible so Catalyst/Tungsten
optimize and codegen them; Arrow-batched Python (``pandas_udf``,
``mapInPandas``, ``applyInPandas``) runs only where SQL has no expression for
the work (e.g. Unicode NFC, media decoding, the cell-local union-find of
semdedup), never in the tokenize/stem/TF-IDF path.
"""

from tf_idf_using_mapreduce_spark.session import get_spark


def run(name: str, spark=None, sf_dir: str = "/root/testdata/sf0.01"):
    """Run a registered query by name: ``run("tfidf").show()``.

    The one-call entry point for a user switching from the reference repo —
    every capability is a named query (see QUERIES.md / ``list_queries()``);
    ``spark`` defaults to a local session.
    """
    from tf_idf_using_mapreduce_spark.registry import QUERIES

    if name not in QUERIES:
        import difflib

        hint = difflib.get_close_matches(name, QUERIES, n=3)
        raise KeyError(f"unknown query {name!r}; close matches: {hint}; "
                       f"see list_queries() for all {len(QUERIES)}")
    return QUERIES[name](spark or get_spark("engine"), sf_dir)


def list_queries() -> dict[str, bool]:
    """{query name: has DuckDB oracle} for every registered capability."""
    from tf_idf_using_mapreduce_spark.registry import ORACLES, QUERIES

    return {name: name in ORACLES for name in QUERIES}


__all__ = ["get_spark", "run", "list_queries"]
__version__ = "0.2.0"
