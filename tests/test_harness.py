"""Negative controls: the correctness harness must actually FAIL on wrong
results — guards against a trivially-green gate."""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_SMOKE, TABLES, normalize_rows


def test_normalize_rows_detects_value_drift():
    a = normalize_rows([(1, 2.5)], ["k", "v"])
    b = normalize_rows([(1, 2.5000001)], ["k", "v"])
    assert a != b


def test_oracle_compare_fails_on_wrong_sql(spark):
    """Same query, deliberately perturbed oracle → must mismatch."""
    import __spark_entry__ as e

    sdf = e.queries()["topk_orders"](spark, SF_SMOKE)
    srows = [tuple(r[c] for c in sdf.columns) for r in sdf.collect()]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')")
    wrong = con.sql(
        "SELECT o_orderkey, o_custkey, round(o_totalprice + 0.01, 2) AS o_totalprice "
        "FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"
    )
    drows = wrong.fetchall()
    con.close()
    assert normalize_rows(srows, sdf.columns) != normalize_rows(drows, sdf.columns)


def test_registry_is_complete_and_callable():
    """Every oracle key has a query; every query callable takes (spark, sf_dir)."""
    import inspect

    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 46
    for name, fn in qs.items():
        required = [
            p for p in inspect.signature(fn).parameters.values()
            if p.default is inspect.Parameter.empty
        ]
        assert len(required) == 2, name  # callable as fn(spark, sf_dir)
    for name, sql in os_.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_force_fresh_names_exist_in_registry():
    """FORCE_FRESH is maintained by hand each round; a typo'd name silently
    wastes a rotation slot (it sorts nothing forward) — round 7 shipped
    exactly that mistake for a day ("tfidf_mllib_exploded"). Every entry
    must name a registered query."""
    import __spark_entry__ as e
    from tf_idf_using_mapreduce_spark.registry import FORCE_FRESH

    unknown = FORCE_FRESH - set(e.queries())
    assert not unknown, f"FORCE_FRESH names not in the registry: {sorted(unknown)}"


def test_bench_names_guard_rejects_unknown_names():
    """BENCH_QUERIES / BENCH_EXCLUDE are hand-maintained name lists like
    FORCE_FRESH: a renamed registry entry must crash the bench loudly —
    a silently-dropped curated row loses its cross-round series, and a
    silently-unmatched exclusion re-admits the declared O(n²) baseline
    into the full-registry sweep."""
    import bench
    import __spark_entry__ as e

    names = set(e.queries())
    # the real lists must pass against the real registry
    ordered = bench.bench_names(names)
    assert set(ordered) == names - bench.BENCH_EXCLUDE
    assert ordered[: len(bench.BENCH_QUERIES)] == list(bench.BENCH_QUERIES)
    # a typo'd curated or excluded name must raise
    with pytest.raises(KeyError):
        bench.bench_names(names - {bench.BENCH_QUERIES[0]})
    # an excluded name absent from the registry must also raise (exercised
    # via a synthetic exclusion so the guard stays tested when the real
    # exclude set is empty)
    try:
        bench.BENCH_EXCLUDE.add("not_a_registered_query")
        with pytest.raises(KeyError):
            bench.bench_names(names)
    finally:
        bench.BENCH_EXCLUDE.discard("not_a_registered_query")


def test_bench_legacy_overwrite_rule(tmp_path):
    """``BENCH_FULL.json`` is written when it is missing or records no more
    cores than this run, and kept when it records more or its core count
    is unknown."""
    import json

    import bench

    legacy = tmp_path / "BENCH_FULL.json"
    assert bench.legacy_overwrite_ok(str(legacy), 8)  # missing
    for unknown in (json.dumps({"metric": "x"}), json.dumps({"cpus": "32"}), "{"):
        legacy.write_text(unknown)
        assert not bench.legacy_overwrite_ok(str(legacy), 8)
    legacy.write_text(json.dumps({"cpus": 4}))
    assert bench.legacy_overwrite_ok(str(legacy), 8)  # lower
    assert bench.legacy_overwrite_ok(str(legacy), 4)  # equal
    assert not bench.legacy_overwrite_ok(str(legacy), 2)  # higher
