from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tf_idf_using_mapreduce_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_CHECK = os.environ.get("SPARK_GRAFT_SF_CHECK", "/root/testdata/sf0.01")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the sf0.001 fixture tables as views (the same
    registration the driver's oracle uses)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')")
    yield con
    con.close()


def normalize_rows(rows, cols):
    """Order-insensitive, column-name-sorted, dtype-faithful normalization of
    plain (non-pandas) row tuples — kept for tests that build rows by hand.
    For driver-faithful comparison of query results use
    :func:`assert_query_matches_oracle`, which goes through pandas."""
    from tools.canon import canon_cell

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


def assert_query_matches_oracle(spark, name: str, sf_dir: str = SF_SMOKE):
    """Run a registered query and its oracle on the SAME sf dir and compare —
    driver-faithfully: both results go through pandas, values keep their
    concrete dtype, unhashable columns raise (see tools/canon.py)."""
    import __spark_entry__ as e
    from tools.canon import canon_rows

    sdf = e.queries()[name](spark, sf_dir)
    spdf = sdf.toPandas()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    ddf = con.sql(e.oracle_sql()[name]).df()
    con.close()

    scols, dcols = sorted(spdf.columns), sorted(ddf.columns)
    assert scols == dcols, f"{name}: schema {scols} != {dcols}"
    assert len(spdf) == len(ddf), f"{name}: rowcount {len(spdf)} != {len(ddf)}"
    s_norm = canon_rows(spdf)
    d_norm = canon_rows(ddf)
    assert s_norm == d_norm, f"{name}: value mismatch, first diff: " + str(
        next(((a, b) for a, b in zip(s_norm, d_norm) if a != b), None)
    )


def jobs_of(spark, fn, group: str) -> int:
    """Spark jobs ``fn()`` runs, counted by job group: unlike wall time, a
    count the host's load cannot move. The status tracker learns of a job
    from the asynchronous listener bus, so the bus is drained before the
    count is read; otherwise a job that just started can be missed."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# py4j's "delete this JVM object" command: sent whenever Python frees a
# JavaObject, so its count depends on garbage-collection timing, not on the
# code under test
_PY4J_DELETE = "m\nd\n"


@pytest.fixture
def py4j_round_trips(spark, monkeypatch):
    """A running count (``.n``) of the py4j gateway round trips the driver
    makes while the test runs, object deletes excluded. Building a DataFrame
    costs one round trip per JVM call, so this count measures driver-side
    build work deterministically, where a timing would move with the host's
    load."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counter = SimpleNamespace(n=0)

    def counting(command, *args, **kwargs):
        if not command.startswith(_PY4J_DELETE):
            counter.n += 1
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    return counter
