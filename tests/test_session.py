"""Session factory: no hidden host assumptions (core count, cwd)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from tf_idf_using_mapreduce_spark.session import PACKAGE_PARENT, spark_cpus


def test_spark_cpus_defaults_to_host_cores(monkeypatch):
    """Unset SPARK_GRAFT_CPUS means the cores this process may run on (what
    ``nproc`` reports), not a constant sized for some other host."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert spark_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert spark_cpus() == 3


def test_python_udf_runs_from_any_cwd(tmp_path):
    """A package function run in a Python worker (the union-find labeling
    ``dedup._local_labels`` as a grouped-map body) must run from a cwd
    outside the repo with PYTHONPATH unset: the driver finds the package
    through sys.path, and the workers through the session's executor
    PYTHONPATH."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {PACKAGE_PARENT!r})
        from pyspark.sql import functions as F
        from tf_idf_using_mapreduce_spark.operators.dedup import _local_labels
        from tf_idf_using_mapreduce_spark.session import get_spark

        spark = get_spark("cwd-check", shuffle_partitions=2)
        edges = spark.createDataFrame([(2, 1), (3, 2), (8, 7)], "u long, v long")
        labels = edges.groupBy(F.lit(0).alias("g")).applyInPandas(
            _local_labels, "doc_id long, cluster_id long")
        print(sorted(tuple(r) for r in labels.collect()))
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]"
