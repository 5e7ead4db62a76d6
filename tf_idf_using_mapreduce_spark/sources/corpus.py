"""Sources and sinks (SURVEY.md §2.1).

Maps the reference's I/O surface onto Spark:

- S1 directory text scan  (``DocumentFreq.java:145``, ``IDF.java:201``) →
  :func:`read_text_corpus` (``spark.read.text`` + recursive lookup).
- S2 file-name-as-document-id (``DocumentFreq.java:64``, ``IDF.java:84``) →
  ``F.input_file_name()`` column.
- S3 stop-list side input (``DocumentFreq.java:35-57``) → :func:`stopwords`
  (driver-side list; :func:`stopwords_sql_list` is its SQL text, which the
  engine's ``NOT IN`` filter and the oracles share).
- S4 DF-lookup TSV side input (``IDF.java:62-79``) → :func:`read_tsv` +
  ``F.broadcast`` join (the engine normally keeps the DF table in the same DAG
  instead — SURVEY.md §2.1 S8).
- S5/S6/S7 TSV text sink, single-file contract (``IDF.java:185-186``,
  ``README.md:14-15``) → :func:`write_tsv`.

Fixture tables (TESTDATA.md) are Parquet; :func:`load_table` /
:func:`load_tables` read them with schema-on-read (inferred once per file)
and full predicate/column pushdown.
"""

from __future__ import annotations

import os
import stat
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_RESOURCE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "resources")
STOPWORDS_PATH = os.path.join(_RESOURCE_DIR, "stopwords.txt")


# path -> ((st_mtime_ns, st_size), the schema Spark inferred for that file)
_schema_memo: dict[str, tuple[tuple[int, int], StructType]] = {}


def file_signature(path: str) -> tuple[int, int] | None:
    """(``st_mtime_ns``, ``st_size``) of a regular file, or None for a
    directory, a missing file or any other path: what the engine's
    file-keyed memos compare, on the rule that a file rewritten in place
    changes its mtime or its size."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size) if stat.S_ISREG(st.st_mode) else None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``<sf_dir>/<name>.parquet`` as a DataFrame, schema-on-read.

    Spark infers a parquet schema with a job that reads the footer (~0.1 s
    on a 4-core host). The first read of a file pays it; the inferred
    ``StructType`` is memoized under ``(path, st_mtime_ns, st_size)``, the
    same key as :func:`_file_split_stats`'s footer memo, and later
    reads pass it to ``spark.read.schema`` and run no job. A rewritten file
    changes its key and is inferred again. A path that is not a regular
    file (a directory dataset, a missing file) is inferred on every read.
    """
    # Self-sufficient under ANY caller-provided session (the driver contract
    # passes its own SparkSession): the confs the engine depends on for
    # correctness are runtime-settable and idempotent. They are set before
    # every read, so a memoized schema was inferred under the same confs.
    # - nanosAsLong: events.ts is TIMESTAMP(NANOS), which Spark otherwise
    #   refuses (PARQUET_TYPE_ILLEGAL); read as long nanos, convert below
    #   (matches DuckDB's CAST(ts AS TIMESTAMP) truncation to micros).
    # - UTC session tz: date_format/window outputs must agree with the
    #   oracle's naive timestamps regardless of host timezone.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = file_signature(path)
    memo = _schema_memo.get(path)
    if key is not None and memo is not None and memo[0] == key:
        df = spark.read.schema(memo[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _schema_memo[path] = (key, df.schema)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_text_corpus(spark: SparkSession, input_dir: str) -> DataFrame:
    """Reference-layout corpus: a directory of text files, one record per line,
    the enclosing file name as document id (S1+S2). Schema: (doc_id, text)."""
    return (
        spark.read.option("recursiveFileLookup", "true").text(input_dir)
        .select(F.input_file_name().alias("doc_id"), F.col("value").alias("text"))
    )


def read_tsv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """S4: headerless TSV with an explicit schema (e.g. ``"term string, df int"``)."""
    return spark.read.option("sep", "\t").schema(schema).csv(path)


def read_jsonl_corpus(spark: SparkSession, path: str,
                      schema: str = "doc_id long, text string") -> DataFrame:
    """JSON-lines corpus source — the wire format most training-data dumps
    arrive in. Explicit schema (never infer at scale: inference is a full
    extra pass) and permissive mode with a corrupt-record column so one bad
    line doesn't kill a 100 TB ingest."""
    return (
        spark.read.schema(schema + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_binary_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Binary-file source for multimodal payload dirs (images/audio):
    (path, modificationTime, length, content) via Spark's binaryFile format —
    feeds operators/multimodal.py's decode plumbing directly."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def write_tsv(df: DataFrame, path: str, single_file: bool = False, mode: str = "overwrite") -> None:
    """S5/S6/S7: TSV text sink. ``single_file=True`` reproduces the reference's
    one-reducer output contract — only for small (top-k sized) results; large
    results keep their parallel layout."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("sep", "\t").csv(path)


# threshold on COMPRESSED parquet bytes — dictionary-encoded text decompresses
# ~10x, so 1 MB compressed per partition already means serious per-token work
SPREAD_BYTES_PER_PARTITION = 1 * 1024 * 1024


def spread(df: DataFrame, multiplier: int = 1,
           bytes_per_partition: int | None = None) -> DataFrame:
    """Repartition UP to cluster parallelism (never down) — for compute-heavy
    per-row work downstream of a scan — but only when partitions are actually
    oversized.

    A parquet file is only splittable at row-group boundaries; a corpus
    written as few large row groups yields 1-2 input partitions no matter how
    many cores exist, serializing any expensive expression work (measured:
    a 50k-doc single-file corpus ran tokenize/md5-heavy operators on 2 of 32
    cores — 8× slower). The repartition itself costs a small shuffle plus
    per-task overhead, a net LOSS on small inputs (measured: +60% on the 5k-doc
    sf0.1 corpus), so we spread only when estimated input exceeds
    ``bytes_per_partition`` (default ``SPREAD_BYTES_PER_PARTITION``; operators
    with denser per-byte compute — e.g. per-CHARACTER hashing — pass a lower
    threshold). Current parallelism is estimated from the files' parquet
    footers (row groups = splittable units; footer reads are memoized) —
    NOT ``df.rdd.getNumPartitions()``, which forces a full plan conversion
    per query. Unknown layouts (non-local/non-parquet sources, in-memory
    frames) spread unconditionally — the safe direction at cluster scale.
    """
    threshold = SPREAD_BYTES_PER_PARTITION if bytes_per_partition is None else bytes_per_partition
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    total_bytes = units = None
    try:
        stats = [
            _file_split_stats(p.removeprefix("file:"))
            for p in df.inputFiles()
            if p.startswith(("file:", "/"))
        ]
        if stats:
            total_bytes = sum(b for b, _ in stats)
            units = sum(u for _, u in stats)
    except OSError:
        total_bytes = units = None
    if units is not None:
        if units >= target:
            return df  # the scan already splits into enough partitions
        if total_bytes / max(units, 1) < threshold:
            return df  # partitions are small; a shuffle would be a net loss
    return df.repartition(target)


def _file_split_stats(path: str) -> tuple[int, int]:
    """(bytes, splittable units) for one input file. Parquet splits at
    row-group boundaries, so its footer's row-group count is the real
    parallelism bound; anything else is one unit. The footer read is
    memoized by ``(path, st_mtime_ns, st_size)``, as in :func:`load_table`:
    a file rewritten in place is read again."""
    st = os.stat(path)
    return _split_stats_of(path, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=1024)
def _split_stats_of(path: str, mtime_ns: int, size: int) -> tuple[int, int]:
    if path.endswith(".parquet"):
        try:
            import pyarrow.parquet as pq

            return size, max(pq.read_metadata(path).num_row_groups, 1)
        except Exception:
            return size, 1
    return size, 1


def write_partitioned_parquet(df: DataFrame, path: str, partition_cols: list[str],
                              mode: str = "overwrite") -> None:
    """Hive-partitioned parquet sink — the 100 TB output layout: downstream
    scans prune on the partition columns without reading a footer. Pair with
    a ``repartition`` on the partition columns so each partition directory
    gets few, large files instead of one file per task per partition."""
    df.repartition(*partition_cols).write.mode(mode).partitionBy(*partition_cols).parquet(path)


def compact_parquet(spark: "SparkSession", src_dir: str, dst_dir: str,
                    target_mb: int = 128, mode: str = "overwrite") -> int:
    """Rewrite a parquet directory into ~``target_mb``-sized files and return
    the output file count — the SMALL-FILES compaction a 100 TB ingest
    pipeline runs continuously (thousands of tiny task outputs → scan-sized
    files; too many files = footer/scheduling overhead dominating the scan,
    too few = lost parallelism). Sizing comes from the source files' on-disk
    bytes (compressed ≈ output compressed), not a row count."""
    import math as _math

    df = spark.read.parquet(src_dir)
    total = sum(
        _file_split_stats(p.removeprefix("file:"))[0]
        for p in df.inputFiles()
        if p.startswith(("file:", "/"))
    )
    n_files = max(1, _math.ceil(total / (target_mb * 1024 * 1024)))
    df.repartition(n_files).write.mode(mode).parquet(dst_dir)
    return n_files


def table_location(spark: "SparkSession", table: str) -> str:
    """Filesystem location of a managed table (the layout tests' and
    reports' entry point into the physical files)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    loc = next(r["data_type"] for r in rows if r["col_name"] == "Location")
    return loc.removeprefix("file:")


def parquet_file_stats(path: str) -> list[dict]:
    """Per-file parquet footer stats under ``path`` (recursive):
    ``{"file", "bytes", "rows", "row_groups"}`` per data file — the house
    measurement method (read the written footers with pyarrow, don't trust
    the plan) behind the small-files reports the layout writers return. At
    100 TB this is the table-maintenance signal: a scan pays per-file
    open/footer/schedule overhead, so thousands of KB-sized files mean the
    table needs compaction (:func:`operators.packing.compaction_roundtrip`)
    regardless of how good its clustering is."""
    import pyarrow.parquet as pq

    out: list[dict] = []
    for dirpath, _dirnames, filenames in sorted(os.walk(path)):
        for fn in sorted(filenames):
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, fn)
            md = pq.ParquetFile(p).metadata
            out.append({
                "file": os.path.relpath(p, path),
                "bytes": os.stat(p).st_size,
                "rows": md.num_rows,
                "row_groups": md.num_row_groups,
            })
    return out


def file_size_histogram(stats: list[dict]) -> dict[int, int]:
    """Power-of-two file-size histogram of a :func:`parquet_file_stats`
    report: {upper-bound bytes → file count}. A healthy table's mass sits in
    one or two adjacent buckets near the target file size; a long low tail
    is the compaction signal."""
    hist: dict[int, int] = {}
    for s in stats:
        ub = 1
        while ub < s["bytes"]:
            ub <<= 1
        hist[ub] = hist.get(ub, 0) + 1
    return dict(sorted(hist.items()))


def write_bucketed_table(df: DataFrame, table: str, bucket_cols: list[str],
                         n_buckets: int = 8, sort_cols: list[str] | None = None,
                         mode: str = "overwrite") -> list[dict]:
    """Bucketed managed table — the CO-LOCATED JOIN layout: two tables
    bucketed the same way on the join key hash-partition identically at
    WRITE time, so a join between them needs NO exchange on either side
    (asserted in tests/test_bucketing.py). At 100 TB this converts every
    recurring fact-fact join on the bucketing key from the single largest
    shuffle in the pipeline into a zip of pre-sorted buckets; the cost is
    paid once at ingest. ``sort_cols`` additionally pre-sorts within each
    bucket so the join skips its sort step too. Returns the written files'
    footer report (:func:`parquet_file_stats`) so the caller can check the
    layout's small-files health, not just its bucketing."""
    w = df.repartition(n_buckets, *bucket_cols).write.mode(mode).format("parquet")
    w = w.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
    return parquet_file_stats(table_location(df.sparkSession, table))


@lru_cache(maxsize=1)
def stopwords() -> tuple[str, ...]:
    """The reference stop-list, verbatim (``stopwords.txt``: 705 CRLF lines →
    355 non-empty patterns; dead patterns — apostrophes stripped by
    tokenization, trailing spaces — stay in the list but can never match, same
    observable behavior as the reference; SURVEY.md §2.11 Q3)."""
    with open(STOPWORDS_PATH, encoding="utf-8") as fh:
        pats = [line.rstrip("\r\n") for line in fh]
    seen: dict[str, None] = {}
    for p in pats:
        if p:
            seen.setdefault(p, None)
    return tuple(seen)


def stopwords_sql_list() -> str:
    """The stop-list as a SQL IN-list literal (portable; apostrophes doubled)."""
    quoted = ", ".join("'" + p.replace("'", "''") + "'" for p in stopwords())
    return f"({quoted})"
