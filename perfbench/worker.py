"""The benchmark's Spark process: one session, one client, one workload's
queries run back to back in a closed loop.

Started by ``run.py`` with a JSON job file::

    python3 perfbench/worker.py <job.json>

Pass 0 is the cold pass. Warm passes follow until the job's ``seconds``
have elapsed. A pass's wall covers each query's construction (``build``)
and its final action (``toPandas``, as the correctness gate collects);
comparing rows with the oracle and reading counters happen outside it.
In a traced job, warm passes alternate untraced and traced, so the same
process yields the per-layer numbers and the tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
import traceback

from tf_idf_using_mapreduce_spark import registry
from tf_idf_using_mapreduce_spark.session import get_spark
from tools.canon import canon_rows

import spans
import workloads

MB = 1024 * 1024
# Run-to-run spread comes mostly from the host's speed, which drifts over
# minutes, so a third warm pass would narrow it little and cost ~10% of a
# run. A traced job runs one untraced warm pass, then T U U T.
MIN_WARM_PASSES = 2
MIN_WARM_PASSES_TRACED = 5


def _tree_peak_rss_mb(root: int) -> float:
    """Sum of peak resident memory (VmHWM) over ``root`` and its live
    descendants: the driver Python process, the JVM and its Python workers."""
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
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class SparkCounters:
    """Jobs, stages, tasks, shuffle-write and spill bytes of a range of job
    ids, read from the status store (populated with the UI disabled).

    Jobs belong to a query by id range, not by job group, so jobs a query
    starts under any group are its own."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._no_status = sc._jvm.java.util.ArrayList()

    def settle(self) -> int:
        """Wait for the listener bus to drain; return the highest job id."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def of_jobs(self, first: int, last: int) -> dict[str, float]:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        stage_ids: set[int] = set()
        for job_id in range(first, last + 1):
            job = self._store.job(job_id)
            out["jobs"] += 1
            out["stages"] += job.numCompletedStages() + job.numFailedStages()
            out["tasks"] += job.numCompletedTasks() + job.numFailedTasks()
            out["failed_tasks"] += job.numFailedTasks()
            ids = job.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, False, self._no_status, False,
                                             self._no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += st.diskBytesSpilled() / MB
        return out


class Runner:
    def __init__(self, spark, job: dict) -> None:
        self.spark = spark
        self.job = job
        self.queries = [(m, q, registry.QUERIES[q]) for m, q in
                        workloads.WORKLOADS[job["workload"]]]
        with open(job["oracle_file"]) as fh:
            self.oracle = {k: [tuple(r) for r in v] for k, v in json.load(fh).items()}
        self.tracer = spans.Tracer()
        self.counters = SparkCounters(spark) if job["trace"] else None
        self.attempted = self.failed = 0
        self.repartitioned = 0  # spread calls of the pass that returned a new frame
        self.errors: list[str] = []
        self.last_job = self.counters.settle() if self.counters else -1
        if job["trace"]:
            self._install_spans()

    def _install_spans(self) -> None:
        for module, fn_name in workloads.WORKLOAD_LAYERS[self.job["workload"]]:
            original = getattr(importlib.import_module(f"{spans.PACKAGE}.{module}"), fn_name)
            wrapped = self.tracer.wrap(f"{module}.{fn_name}", original)
            if fn_name == "spread":
                wrapped = self._count_repartitions(wrapped)
            spans.patch(original, wrapped)

    def _count_repartitions(self, spread):
        @functools.wraps(spread)
        def counted(df, *args, **kwargs):
            out = spread(df, *args, **kwargs)
            self.repartitioned += self.tracer.enabled and out is not df
            return out

        return counted

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        self.tracer.enabled = traced
        self.repartitioned = 0
        first_span = len(self.tracer.spans)
        record = {"pass": pass_no, "traced": traced, "wall_s": 0.0, "queries": {}}
        for module, name, fn in self.queries:
            self.attempted += 1
            q = {"module": module}
            idx = self.tracer.begin(f"query.{name}") if traced else None
            pdf = None
            t0 = t1 = time.perf_counter()
            try:
                df = fn(self.spark, self.job["data_dir"])
                t1 = time.perf_counter()
                pdf = df.toPandas()
            except Exception as ex:  # a failed call is counted, the loop goes on
                self.errors.append(f"pass {pass_no} {name}: {ex!r}"[:2000])
                traceback.print_exc()
            t2 = time.perf_counter()
            if idx is not None:
                self.tracer.end(idx)
            q["build_s"], q["exec_s"] = t1 - t0, t2 - t1
            record["wall_s"] += t2 - t0
            ok = pdf is not None and canon_rows(pdf) == self.oracle[name]
            if pdf is not None and not ok:
                self.errors.append(f"pass {pass_no} {name}: rows differ from the oracle")
            self.failed += not ok
            if self.counters is not None:
                last = self.counters.settle()
                if traced:
                    q.update(self.counters.of_jobs(self.last_job + 1, last))
                record["jobs"] = record.get("jobs", 0) + last - self.last_job
                self.last_job = last
            record["queries"][name] = q
        self.tracer.enabled = False
        if traced:
            record["layers"] = self.tracer.self_times(first_span, len(self.tracer.spans))
            record["spread_repartitioned"] = self.repartitioned
        return record


def main() -> int:
    get_spark_t0 = time.perf_counter()
    spark = get_spark("perfbench")
    ready = time.time()
    get_spark_s = time.perf_counter() - get_spark_t0
    with open(sys.argv[1]) as fh:
        job = json.load(fh)
    runner = Runner(spark, job)
    passes = [runner.run_pass(0, traced=False)]
    warm_start = time.perf_counter()
    min_warm = MIN_WARM_PASSES_TRACED if job["trace"] else MIN_WARM_PASSES
    while time.perf_counter() - warm_start < job["seconds"] or len(passes) < 1 + min_warm:
        # traced jobs: after one untraced warm pass, traced (T) and untraced
        # (U) passes run as T U U T, so warm-up drift cancels in the overhead
        traced = bool(job["trace"]) and len(passes) >= 2 and (len(passes) - 2) % 4 in (0, 3)
        passes.append(runner.run_pass(len(passes), traced))
    result = {
        "ready": ready,
        "get_spark_s": get_spark_s,
        "passes": passes,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "errors": runner.errors,
        "peak_rss_mb": _tree_peak_rss_mb(os.getpid()),
    }
    with open(job["result_file"], "w") as fh:
        json.dump(result, fh)
    if job["trace"]:
        with open(job["spans_file"], "w") as fh:
            json.dump(runner.tracer.spans, fh)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    # no spark.stop(): run.py ends the whole process group, JVM included
    os._exit(code)
