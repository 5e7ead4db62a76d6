"""Structured Streaming: real stream == batch twin == oracle; watermark +
session-window state paths."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE, assert_query_matches_oracle
from tf_idf_using_mapreduce_spark.streaming import events as se


def test_streaming_matches_oracle(spark):
    assert_query_matches_oracle(spark, "events_hourly_streaming")


def test_sliding_windows_match_oracle(spark):
    assert_query_matches_oracle(spark, "events_sliding_windows")


def test_stream_equals_batch(spark):
    from tf_idf_using_mapreduce_spark.operators.relational import events_hourly_tumbling

    stream_rows = {
        tuple(r) for r in se.events_hourly_streaming(spark, SF_SMOKE).collect()
    }
    batch_rows = {tuple(r) for r in events_hourly_tumbling(spark, SF_SMOKE).collect()}
    assert stream_rows == batch_rows


def test_stateful_running_counts(spark, duck):
    """applyInPandasWithState totals must equal the batch per-user aggregates
    once the finite stream drains."""
    stream = se.read_events_stream(spark, SF_SMOKE)
    out = se.user_running_counts_stateful(stream)
    q = (
        out.writeStream.format("memory").queryName("stateful_result")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.table("stateful_result").collect()
    # update mode may emit a row per user per batch; keep the final (max) count
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    expected = {
        u: (n, round(v, 6))
        for u, n, v in duck.execute(
            "SELECT user_id, count(*), sum(value) FROM events GROUP BY 1"
        ).fetchall()
    }
    assert {u: f[0] for u, f in final.items()} == {u: e[0] for u, e in expected.items()}
    for u in expected:
        assert abs(final[u][1] - expected[u][1]) < 1e-4, (u, final[u], expected[u])


def test_session_windows_stream(spark):
    """Session-window aggregation (30 min gap) through a real stream — the
    stateful-window surface DuckDB cannot express (rows-only by design)."""
    from pyspark.sql import functions as F

    stream = se.read_events_stream(spark, SF_SMOKE)
    sessions = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    se.run_stream_to_memory(sessions, "session_result")
    rows = spark.table("session_result").collect()
    assert rows
    # sessions are per-user, disjoint, and each holds >= 1 event
    for r in rows:
        assert r["n"] >= 1
        assert r["w"]["end"] > r["w"]["start"]


def test_stream_dedup_matches_batch_distinct(spark):
    assert_query_matches_oracle(spark, "events_stream_dedup")


def test_stream_parquet_sink_exactly_once(spark, tmp_path):
    """Native parquet streaming sink with a checkpoint: all rows land once,
    and re-running the same stream against the same checkpoint writes
    NOTHING new (offset-log replay protection) — the exactly-once contract a
    production ingest pipeline relies on."""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run_once():
        q = (
            se.read_events_stream(spark, SF_SMOKE)
            .select("event_id", "user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 1000
    assert got.select("event_id").distinct().count() == 1000
    run_once()  # replay: same source files, same checkpoint
    assert spark.read.parquet(out).count() == 1000


def test_stream_runners_restore_shuffle_partitions(spark, tmp_path):
    """Each runner pins spark.sql.shuffle.partitions to STATE_PARTITIONS
    while its stream runs and restores the caller's value afterwards — on
    the normal path and when a foreachBatch function raises."""
    from pyspark.errors import StreamingQueryException

    key = "spark.sql.shuffle.partitions"
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    src = str(tmp_path / "src")
    spark.range(6).selectExpr("id", "id % 2 AS k").write.parquet(src)

    def stream():
        return spark.readStream.schema("id long, k long").parquet(src)

    seen = []

    def record(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(key))

    def fail(batch_df, batch_id):
        raise RuntimeError("batch failed")

    before, before_nodata = spark.conf.get(key), spark.conf.get(nodata_key)
    pinned = str(se.STATE_PARTITIONS + 1)
    spark.conf.set(key, pinned)
    try:
        se.run_stream_to_memory(stream(), "restore_probe", output_mode="append")
        assert spark.conf.get(key) == pinned
        assert spark.conf.get(nodata_key) == before_nodata
        assert spark.table("restore_probe").count() == 6
        se.run_stream_to_partitioned_sink(stream(), str(tmp_path / "sink"), ["k"])
        assert spark.conf.get(key) == pinned
        se.run_stream_foreach_batch(stream(), record, str(tmp_path / "ck_ok"))
        assert spark.conf.get(key) == pinned
        assert seen and set(seen) == {str(se.STATE_PARTITIONS)}
        with pytest.raises(StreamingQueryException, match="batch failed"):
            se.run_stream_foreach_batch(stream(), fail, str(tmp_path / "ck_fail"))
        assert spark.conf.get(key) == pinned
    finally:
        spark.conf.set(key, before)


def test_stream_stream_interval_join_matches_batch(spark):
    assert_query_matches_oracle(spark, "events_stream_stream_join")


def test_user_running_totals_oracle_parity(spark):
    assert_query_matches_oracle(spark, "events_user_running_totals")


def test_user_running_totals_across_micro_batches(spark, tmp_path):
    """The max_by final-state collapse must hold when the stream arrives in
    MANY micro-batches (the fixture file yields just one): split events
    into 4 files, force one file per trigger, and the per-user finals must
    still equal the batch aggregate."""
    from pyspark.sql import functions as F
    from tf_idf_using_mapreduce_spark.sources.corpus import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "value", "ts")
    src = str(tmp_path / "src")
    # round-robin repartition: every user's rows spread across all 4 files
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema("user_id long, value double, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = se.user_running_counts_stateful(stream)
    q = (
        out.writeStream.format("memory").queryName("multi_batch_stateful")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    snap = spark.table("multi_batch_stateful")
    n_batches = snap.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    assert n_batches > 1, "expected the same user across multiple micro-batches"
    final = (
        snap.groupBy("user_id")
        .agg(F.max("n_events").alias("n"), F.expr("max_by(total_value, n_events)").alias("v"))
        .collect()
    )
    expected = {
        r["user_id"]: (r["n"], r["v"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("v"))
        .collect()
    }
    got = {r["user_id"]: (r["n"], round(r["v"], 6)) for r in final}
    assert {u: g[0] for u, g in got.items()} == {u: e[0] for u, e in expected.items()}
    for u in expected:
        assert abs(got[u][1] - expected[u][1]) < 1e-4, (u, got[u], expected[u])


def test_session_stream_oracle_parity(spark):
    assert_query_matches_oracle(spark, "events_session_stream")


def test_documents_stream_curation_matches_batch(spark):
    """Ingest-time curation: the streaming run must produce the exact same
    keep/drop decisions as the batch cascade (same expression tree, same
    oracle) — the batch↔stream portability contract."""
    from tf_idf_using_mapreduce_spark.operators.curation import curation_filter
    from tf_idf_using_mapreduce_spark.streaming.corpus import documents_stream_curation

    batch = sorted(map(tuple, curation_filter(spark, SF_SMOKE).collect()))
    stream = sorted(map(tuple, documents_stream_curation(spark, SF_SMOKE).collect()))
    assert stream == batch and batch


def test_documents_stream_curation_oracle_parity(spark):
    assert_query_matches_oracle(spark, "documents_stream_curation")


def test_documents_stream_pii_matches_batch(spark):
    """Ingest-time PII scrub: the streaming run must produce the exact same
    redactions and counts as the batch operator."""
    from tf_idf_using_mapreduce_spark.operators.curation import pii_redaction
    from tf_idf_using_mapreduce_spark.streaming.corpus import documents_stream_pii

    batch = sorted(map(tuple, pii_redaction(spark, SF_SMOKE).collect()))
    stream = sorted(map(tuple, documents_stream_pii(spark, SF_SMOKE).collect()))
    assert stream == batch and batch


def test_documents_stream_pii_oracle_parity(spark):
    assert_query_matches_oracle(spark, "documents_stream_pii")


def test_documents_stream_split_matches_batch(spark):
    """Ingest-time split assignment: content-hash splitting is arrival-order
    independent, so the streaming run must equal the batch operator row for
    row — the property that makes split-at-ingest safe at all."""
    from tf_idf_using_mapreduce_spark.operators.release import train_val_test_split
    from tf_idf_using_mapreduce_spark.streaming.corpus import documents_stream_split

    batch = sorted(map(tuple, train_val_test_split(spark, SF_SMOKE).collect()))
    stream = sorted(map(tuple, documents_stream_split(spark, SF_SMOKE).collect()))
    assert stream == batch and batch


def test_documents_stream_dedup_matches_batch(spark):
    """Ingest-time exact dedup: the STATEFUL streaming aggregation (running
    per-hash count + min survivor in the state store, complete mode) must
    converge to the batch dedup table exactly — min() makes the election
    arrival-order independent."""
    from tf_idf_using_mapreduce_spark.operators.dedup import dedup_exact
    from tf_idf_using_mapreduce_spark.streaming.corpus import documents_stream_dedup

    batch = sorted(map(tuple, dedup_exact(spark, SF_SMOKE).collect()))
    stream = sorted(map(tuple, documents_stream_dedup(spark, SF_SMOKE).collect()))
    assert stream == batch and batch


@pytest.mark.parametrize("name", ["documents_stream_split", "documents_stream_dedup"])
def test_documents_stream_round6_oracle_parity(spark, name):
    assert_query_matches_oracle(spark, name)


def test_watermark_drops_late_data_in_append_stream(spark, tmp_path):
    """Event-time correctness under late arrivals: a row arriving behind the
    2 h watermark must be EXCLUDED from the streaming aggregation (its
    window never materializes), while the batch twin over the same files
    still counts it — the divergence watermarking exists to create. Files
    feed one-per-microbatch so the watermark genuinely advances between
    arrivals."""
    import datetime as dt
    import os
    import time as _time

    from tf_idf_using_mapreduce_spark.streaming.events import (
        run_stream_to_memory,
        windowed_counts,
    )

    d = str(tmp_path / "stream_src")
    os.makedirs(d)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    base_mtime = int(_time.time())

    def write_file(idx, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = f"{d}/f{idx}.parquet"
        pq.write_table(
            pa.table({
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": [r[3] for r in rows],
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": [r[5] for r in rows],
            }),
            path,
        )
        # the file source orders batches by modification time: pin strictly
        # increasing mtimes EXPLICITLY (10 s apart) instead of sleeping —
        # wall-clock sleeps flake on coarse-mtime filesystems
        os.utime(path, (base_mtime + idx * 10, base_mtime + idx * 10))

    t = dt.datetime(2024, 3, 1)
    on_time = [
        (1, t.replace(hour=10, minute=5), 1, "view", 1.0, "{}"),
        (2, t.replace(hour=10, minute=40), 2, "view", 1.0, "{}"),
        (3, t.replace(hour=11, minute=10), 1, "click", 1.0, "{}"),
    ]
    # measured caveat (pinned here on purpose): the late filter uses the
    # watermark COMMITTED before the batch starts, so a late row arriving in
    # the very next batch after the data that established the watermark can
    # still slip in — the drop is guaranteed one batch later. Hence the
    # wm-advancing file sits BETWEEN the on-time data and the late arrival.
    advance = [(4, t.replace(hour=12, minute=30), 3, "view", 1.0, "{}")]
    late_and_future = [
        # 07:30 is hours behind the committed watermark (12:30 - 2 h =
        # 10:30) -> must be dropped
        (5, t.replace(hour=7, minute=30), 3, "view", 1.0, "{}"),
        # far-future row pushes the final watermark past every on-time window
        (6, t.replace(hour=23, minute=0), 4, "view", 1.0, "{}"),
    ]
    write_file(1, on_time)
    write_file(2, advance)
    write_file(3, late_and_future)

    # the final 12:00 window only flushes in the no-data microbatch that
    # follows the last file (append mode emits a window one batch AFTER the
    # watermark passes it) — make that dependency explicit rather than
    # silently relying on the default
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
        == "true"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "2 hours")
    )
    run_stream_to_memory(
        windowed_counts(stream), "late_data_result", output_mode="append"
    )
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.table("late_data_result").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in windowed_counts(spark.read.parquet(d)).collect()
    }
    # batch sees the late row; the stream must not
    assert ("2024-03-01 07:00", "view") in batch
    assert ("2024-03-01 07:00", "view") not in got
    # every on-time window flushed with the exact batch counts
    assert got[("2024-03-01 10:00", "view")] == 2
    assert got[("2024-03-01 11:00", "click")] == 1
    assert got[("2024-03-01 12:00", "view")] == 1


def test_stateful_dedup_recovers_state_across_kill_and_restart(spark, tmp_path):
    """Round-7 verdict #7: the exactly-once story so far covered a clean
    availableNow drain; this pins RECOVERY — the stateful dedup index
    (documents_stream_dedup's exact aggregation, via dedup_state_agg)
    killed between microbatch boundaries and restarted on the same
    checkpoint must (a) resume the state store (counts ACCUMULATE across
    runs — a reset would restart them), (b) not reprocess drained files
    (offset-log replay protection), (c) end bit-identical to the batch
    dedup over everything ingested: per-hash counts sum to exactly the
    rows written (no dup, no loss) with min-doc_id canonicals."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from tf_idf_using_mapreduce_spark.streaming.corpus import (
        DOCUMENTS_SCHEMA,
        dedup_state_agg,
    )

    land = str(tmp_path / "landing")
    ck = str(tmp_path / "ck")
    os.makedirs(land)

    def write_file(name, rows):
        spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in rows], DOCUMENTS_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(f"{land}/{name}")

    # three arrival files; 'alpha'/'beta' texts recur ACROSS files so only
    # retained state can produce the right totals
    write_file("f1", [(1, "alpha"), (2, "beta"), (3, "gamma")])
    write_file("f2", [(4, "alpha"), (5, "delta")])
    write_file("f3", [(6, "beta"), (7, "alpha"), (0, "gamma")])

    def start(name, ckpt):
        stream = (
            spark.readStream.schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)  # force one microbatch per file
            .parquet(land + "/*")
            .select("doc_id", "text")
        )
        return (
            dedup_state_agg(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # run 1: kill as soon as the FIRST microbatch commits, while input
    # remains — stop() races the (sub-second) later batches, so retry with a
    # fresh checkpoint until the kill really lands mid-stream
    rows_run1, ck = 8, None
    for attempt in range(5):
        ck = str(tmp_path / f"ck{attempt}")
        q1 = start("dedup_recovery_run1", ck)
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if q1.lastProgress is not None or not q1.isActive:
                break
            _time.sleep(0.01)
        q1.stop()
        q1.awaitTermination(60)
        rows_run1 = sum(p["numInputRows"] for p in q1.recentProgress)
        if 0 < rows_run1 < 8:
            break
    assert 0 < rows_run1 < 8, "kill must land mid-stream, before the full drain"

    # a fourth file lands while the pipeline is down
    write_file("f4", [(9, "alpha"), (8, "epsilon")])

    # run 2: same checkpoint — must resume state and drain only the rest
    q2 = start("dedup_recovery_run2", ck)
    q2.awaitTermination(120)
    deadline = _time.time() + 60
    while q2.isActive and _time.time() < deadline:
        _time.sleep(0.2)
    assert not q2.isActive
    rows_run2 = sum(p["numInputRows"] for p in q2.recentProgress)
    # exactly-once across the kill: every row processed once, none twice
    assert rows_run1 + rows_run2 == 10

    got = {
        r["text_hash"]: (r["n_docs"], r["canonical_doc_id"])
        for r in spark.table("dedup_recovery_run2").collect()
    }
    truth = {
        r["text_hash"]: (r["n_docs"], r["canonical_doc_id"])
        for r in spark.read.parquet(land + "/*")
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_doc_id"))
        .collect()
    }
    assert got == truth  # alpha=4 docs min 1, beta=2, gamma=2 min 0, ...


def test_documents_stream_quality_matches_batch(spark):
    """Ingest-time quality filter: the streaming run must produce the exact
    same probabilities/labels as the batch classifier (same expression
    tree, same oracle) — the batch↔stream portability contract."""
    from tf_idf_using_mapreduce_spark.operators.textstats import quality_classifier
    from tf_idf_using_mapreduce_spark.streaming.corpus import documents_stream_quality

    batch = sorted(map(tuple, quality_classifier(spark, SF_SMOKE).collect()))
    stream = sorted(map(tuple, documents_stream_quality(spark, SF_SMOKE).collect()))
    assert stream == batch and batch


def test_documents_stream_quality_oracle_parity(spark):
    assert_query_matches_oracle(spark, "documents_stream_quality")


def test_documents_stream_chunk_dedup_matches_batch(spark):
    """Ingest-time repetition scrub: the streaming run must produce the
    exact same cleaned text and drop counts as the batch apply step (same
    expression tree, same oracle) — the batch↔stream portability contract."""
    from tf_idf_using_mapreduce_spark.operators.packing import doc_chunk_dedup
    from tf_idf_using_mapreduce_spark.streaming.corpus import (
        documents_stream_chunk_dedup,
    )

    batch = sorted(map(tuple, doc_chunk_dedup(spark, SF_SMOKE).collect()))
    stream = sorted(map(tuple, documents_stream_chunk_dedup(spark, SF_SMOKE).collect()))
    assert stream == batch and batch


def test_documents_stream_chunk_dedup_oracle_parity(spark):
    assert_query_matches_oracle(spark, "documents_stream_chunk_dedup")


def test_partitioned_file_sink_exactly_once_across_kill_and_restart(spark, tmp_path):
    """Round-13 verdict #3: the partitioned FILE sink (the production
    ingest path) killed between microbatch boundaries and restarted on the
    same checkpoint must end exactly-once: (a) no drained file reprocessed
    (offset-log replay protection), (b) the read-back — which goes through
    the sink's ``_spark_metadata`` commit log, so files from uncommitted
    batches are invisible — holds every source row exactly once, across
    the correct ``event_date=`` directories, (c) the day-window rollup
    over the recovered sink is value-identical to the batch rollup over
    everything ingested (the same shared expression the oracle gates)."""
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from tf_idf_using_mapreduce_spark.operators.partitioned import (
        daily_window_rollup,
    )

    land = str(tmp_path / "landing")
    _os.makedirs(land)

    def write_file(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts string, event_type string, value double"
        ).selectExpr("event_id", "cast(ts as timestamp) ts", "event_type",
                     "value").coalesce(1).write.mode("overwrite") \
            .parquet(f"{land}/{name}")

    # four arrival files, 12 rows, days inside AND outside the rollup window
    write_file("f1", [(1, "2024-01-08 10:00:00", "view", 1.5),
                      (2, "2024-01-08 11:00:00", "click", 2.5),
                      (3, "2024-01-02 09:00:00", "view", 3.0)])
    write_file("f2", [(4, "2024-01-10 10:30:00", "view", 4.0),
                      (5, "2024-01-10 10:45:00", "purchase", 5.5),
                      (6, "2024-01-14 23:00:00", "click", 6.0)])
    write_file("f3", [(7, "2024-01-14 23:30:00", "view", 7.0),
                      (8, "2024-01-20 08:00:00", "view", 8.0),
                      (9, "2024-01-08 12:00:00", "click", 9.0)])

    sink = str(tmp_path / "sink")

    def start(ckpt):
        stream = (
            spark.readStream
            .schema("event_id long, ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", 1)  # one microbatch per file
            .parquet(land + "/*")
            .withColumn("event_date", F.to_date("ts"))
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .partitionBy("event_date")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    # run 1: kill as soon as the FIRST microbatch commits, while input
    # remains — retry with fresh checkpoint AND sink until the kill really
    # lands mid-stream (stop() races the sub-second later batches)
    rows_run1, ck = 9, None
    for attempt in range(5):
        ck = str(tmp_path / f"ck{attempt}")
        if _os.path.isdir(sink):
            import shutil
            shutil.rmtree(sink)
        q1 = start(ck)
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if q1.lastProgress is not None or not q1.isActive:
                break
            _time.sleep(0.01)
        q1.stop()
        q1.awaitTermination(60)
        rows_run1 = sum(p["numInputRows"] for p in q1.recentProgress)
        if 0 < rows_run1 < 9:
            break
    assert 0 < rows_run1 < 9, "kill must land mid-stream, before the full drain"

    # a fourth file lands while the pipeline is down
    write_file("f4", [(10, "2024-01-10 11:00:00", "view", 10.0),
                      (11, "2024-01-29 10:00:00", "click", 11.0)])

    # run 2: same checkpoint, same sink — must drain only the rest
    q2 = start(ck)
    q2.awaitTermination(120)
    deadline = _time.time() + 60
    while q2.isActive and _time.time() < deadline:
        _time.sleep(0.2)
    assert not q2.isActive
    rows_run2 = sum(p["numInputRows"] for p in q2.recentProgress)
    # (a) exactly-once ingest: every row processed once, none twice
    assert rows_run1 + rows_run2 == 11

    # (b) the committed read-back holds every source row exactly once
    got = sorted(
        (r["event_id"], r["event_type"], r["value"],
         str(r["event_date"]))
        for r in spark.read.schema(
            "ts timestamp, event_type string, value double,"
            " event_id long, event_date date").parquet(sink).collect()
    )
    want = sorted(
        (r["event_id"], r["event_type"], r["value"], str(F_date))
        for r in spark.read.parquet(land + "/*").collect()
        for F_date in [r["ts"].date()]
    )
    assert got == want
    dirs = sorted(d for d in _os.listdir(sink) if d.startswith("event_date="))
    assert "event_date=2024-01-08" in dirs and "event_date=2024-01-29" in dirs

    # (c) the windowed rollup over the recovered sink == the batch rollup
    fact = spark.read.schema(
        "ts timestamp, event_type string, value double, event_id long,"
        " event_date date").parquet(sink)
    batch = spark.read.parquet(land + "/*").withColumn(
        "event_date", F.to_date("ts"))
    assert sorted(map(tuple, daily_window_rollup(fact).collect())) == \
        sorted(map(tuple, daily_window_rollup(batch).collect()))


def test_stream_cdc_upsert_matches_batch_merge_and_oracle(spark):
    """The foreachBatch CDC ingest ends in EXACTLY the state the batch
    merge produces (same change feed, microbatch-split), and both pass the
    same oracle."""
    from tests.conftest import SF_SMOKE, assert_query_matches_oracle

    from tf_idf_using_mapreduce_spark.operators.partitioned import (
        events_daily_merge_upsert,
    )
    from tf_idf_using_mapreduce_spark.streaming.events import (
        events_stream_cdc_upsert,
    )

    got = sorted(map(tuple, events_stream_cdc_upsert(spark, SF_SMOKE).collect()))
    want = sorted(map(tuple, events_daily_merge_upsert(spark, SF_SMOKE).collect()))
    assert got == want and got
    assert_query_matches_oracle(spark, "events_stream_cdc_upsert")
