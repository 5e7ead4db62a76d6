"""Seeded benchmark of the corpus engine, run from the root of a checkout::

    python3 perfbench/run.py --workload text_index --seed 1 --seconds 10 --trace 0

For one workload and seed it generates the corpus (``gen.py``), computes
every query's expected rows once on DuckDB from the registry's oracle SQL,
then starts one Spark process (``worker.py``) that runs the workload's
queries in a closed loop: one client, no extra threads. Every pass's rows
are checked against the oracle; a query call fails on an exception or a
mismatch, and counts in ``failed``.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are end to end:

- ``setup_s``: start of the Spark process until ``session.get_spark``
  returns; corpus and oracles excluded;
- ``pass_s``: median wall of the warm passes (the line before the result
  gives the sample counts).

With ``--trace 1`` the metrics are per layer (``workloads.per_layer_metrics``):
medians over the traced warm passes of spans recorded around the layer
functions from the benchmark's own files (``spans.py``) and of Spark
counters, plus the cold pass (JIT, codegen, Python worker spawn) and the
process tree's peak memory. The spans are written to
``.perfbench/spans-<workload>-<seed>.json``; every other file a run writes
goes to a directory under ``.perfbench/`` that is removed at its end.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import workloads

PACKAGE = "tf_idf_using_mapreduce_spark"
WORK_ROOT = ".perfbench"
# a run must end within 180 s: its Spark processes are killed at this deadline
RUN_DEADLINE_S = 165
# heap of the one driver JVM: the corpus is a few MB and the host is
# shared, so far below the session's 16g default
DRIVER_MEMORY = "2g"
PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def _worker_env(root: str, run_dir: str) -> tuple[dict[str, str], dict[str, str]]:
    """(environment, pinned settings) of the Spark processes: the core
    count from the host, a driver heap that fits it, the package importable
    by Python workers from any cwd, and every scratch directory inside this
    run's directory. The processes also run with that directory as cwd, so
    the warehouse is fresh and no index table left by an earlier run can
    turn a build pass into a probe."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher included, keeps its temp
        # files in the run directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    env = dict(os.environ)
    env.pop("SPARK_SQL_SHUFFLE_PARTITIONS", None)
    env.update(pinned)
    return env, pinned


def _become_subreaper() -> None:
    """Make this process inherit its orphaned descendants. The PySpark
    daemon moves itself and the workers it forks into a process group of
    their own, so killing the worker's group would miss them; as their
    subreaper, this process sees them all and can wait for each."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _descendants(root: int) -> list[int]:
    """Processes below ``root`` in the process tree, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo += children.get(pid, [])
    return found


def _end_descendants(timeout_s: float = 30) -> None:
    """SIGKILL every descendant of this process and reap each, until this
    process has no child left, dead or alive."""
    deadline = time.time() + timeout_s
    while True:
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.time() > deadline:
            raise RuntimeError("a child process survived SIGKILL")
        time.sleep(0.05)


def _run_worker(job_file: str, env: dict, run_dir: str, deadline: float) -> float:
    """Run ``worker.py``; when it returns or at ``deadline``, kill it and
    every process it started (the JVM, the PySpark daemon and its workers)
    and wait for each to end. Return the wall clock at its start."""
    log_path = os.path.join(run_dir, "worker.log")
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker.py")
    with open(log_path, "w") as log:
        started = time.time()
        proc = subprocess.Popen([sys.executable, script, job_file], cwd=run_dir, env=env,
                                stdout=log, stderr=log, start_new_session=True)
        try:
            proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"worker still running after {RUN_DEADLINE_S}s") from None
        finally:
            _end_descendants()
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"worker exited with {proc.returncode}")
    return started


def _oracle_rows(workload: str, data_dir: str) -> dict[str, list]:
    """Each query's expected rows from its ``registry.ORACLES`` SQL on
    DuckDB over the corpus in ``data_dir``, canonicalized as the
    correctness gate does."""
    import duckdb

    from tf_idf_using_mapreduce_spark.registry import ORACLES
    from tools.canon import canon_rows

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, 'documents.parquet')}')")
    by_sql: dict[str, list] = {}  # twin queries share one oracle
    for _module, query in workloads.WORKLOADS[workload]:
        sql = ORACLES[query]
        if sql not in by_sql:
            by_sql[sql] = canon_rows(con.sql(sql).df())
    return {q: by_sql[ORACLES[q]] for _m, q in workloads.WORKLOADS[workload]}


def _end_to_end(res: dict, setup_s: float) -> tuple[dict, str]:
    warm = [p["wall_s"] for p in res["passes"][1:]]
    values = {"setup_s": setup_s, "pass_s": statistics.median(warm)}
    return values, f"pass_s is the median of {len(warm)} warm passes"


def _per_layer(workload: str, res: dict) -> dict:
    """Medians over the traced warm passes; 0 for the layers and queries the
    workload does not run. A layer it runs that recorded nothing, say one a
    binding the tracer missed hides, is an error, not a 0."""
    warm = res["passes"][1:]
    traced = [p for p in warm if p["traced"]]
    samples: dict[str, list[float]] = {}
    for p in traced:
        per_pass = {"sources.corpus.spread.repartitioned": p["spread_repartitioned"]}
        for name, (self_s, calls) in p["layers"].items():
            per_pass[f"{name}.self_s"] = self_s
            if name == "sources.corpus.spread":
                per_pass["sources.corpus.spread.calls"] = calls
        for key in ("jobs", "stages", "tasks", "failed_tasks", "spill_mb"):
            per_pass[f"spark.{key}"] = sum(q[key] for q in p["queries"].values())
        for name, q in p["queries"].items():
            for m, _unit in workloads.QUERY_METRICS:
                per_pass[f"{q['module']}.{name}.{m}"] = q[m]
        for k, v in per_pass.items():
            samples.setdefault(k, []).append(v)
    samples["session.get_spark_s"] = [res["get_spark_s"]]
    samples["cold_pass_s"] = [res["passes"][0]["wall_s"]]
    samples["peak_rss_mb"] = [res["peak_rss_mb"]]
    # warm[0], the first warm pass, still warms up
    untraced_s = statistics.median(p["wall_s"] for p in warm[1:] if not p["traced"])
    samples["trace.overhead_frac"] = [
        statistics.median(p["wall_s"] for p in traced) / untraced_s - 1]
    reached = workloads.reached_metrics(workload)
    missing = sorted(reached - samples.keys())
    if missing:
        raise RuntimeError(f"traced run measured nothing for {missing}")
    return {name: {"value": statistics.median(samples[name]) if name in reached else 0,
                   "unit": unit}
            for name, unit in workloads.per_layer_metrics()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"run from the repository root: no {PACKAGE}/ in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import gen

    _become_subreaper()
    # a SIGTERM unwinds through the cleanup below instead of skipping it
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    deadline = time.time() + RUN_DEADLINE_S
    run_dir = os.path.join(root, WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        oracle_dir = os.path.join(run_dir, "oracle-data")
        t0 = time.time()
        inputs = gen.generate(args.workload, args.seed, data_dir, oracle_dir)
        t1 = time.time()
        oracle_file = os.path.join(run_dir, "oracle.json")
        with open(oracle_file, "w") as fh:
            json.dump(_oracle_rows(args.workload, oracle_dir), fh)
        t2 = time.time()
        env, pinned = _worker_env(root, run_dir)
        job = {"workload": args.workload, "data_dir": data_dir, "seconds": args.seconds,
               "trace": args.trace, "oracle_file": oracle_file,
               "result_file": os.path.join(run_dir, "result.json"),
               "spans_file": os.path.join(root, WORK_ROOT,
                                          f"spans-{args.workload}-{args.seed}.json")}
        job_file = os.path.join(run_dir, "job.json")
        with open(job_file, "w") as fh:
            json.dump(job, fh)
        started = _run_worker(job_file, env, run_dir, deadline)
        with open(job["result_file"]) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if not os.listdir(os.path.join(root, WORK_ROOT)):
            os.rmdir(os.path.join(root, WORK_ROOT))

    for err in res["errors"]:
        print(f"FAILED {err}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "corpus": inputs,
        "settings": {k: v.replace(root, ".") for k, v in pinned.items()},
        "generate_s": round(t1 - t0, 3), "oracle_s": round(t2 - t1, 3),
        "passes": [round(p["wall_s"], 4) for p in res["passes"]],
        "jobs_per_pass": [p.get("jobs") for p in res["passes"]],
        "failed_frac": res["failed"] / res["attempted"]}))
    if args.trace:
        metrics = _per_layer(args.workload, res)
    else:
        values, note = _end_to_end(res, res["ready"] - started)
        print(note)
        units = {name: unit for name, unit, _bound in workloads.END_TO_END}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
