"""Benchmark of the spark-kg pipeline: one workload per invocation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts its own Spark session on
4 local cores, makes its inputs from ``--seed``, times one batch job (for
kg_build, followed by a closed-loop read phase that runs until
``--seconds`` have passed since the job started, with at least a fixed
number of lookups), checks the outputs, and prints as its last line one
JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics,
counted from outside through Spark job groups (see counters.py), and
writes its spans to ``.bench_work/spans/``. Everything the run writes
stays under ``.bench_work/`` in the checkout and is removed at exit,
except the spans.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: make the checkout importable
    sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402
from perfbench.counters import (  # noqa: E402
    SPARK_UNITS, Tracer, exec_memory_bytes, last_job_id)

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "triples_per_s": "1/s",
    "exec_memory_mb": "MB",
}

PIPELINE_LAYERS = ("pipeline.build_graph", "pipeline.candidates",
                   "pipeline.edges", "pipeline.related", "pipeline.triples")
LAYER_EXTRAS = {
    **{layer: {"skipped_stage_ratio": "ratio"} for layer in PIPELINE_LAYERS},
    "lineage.commit": {"buckets": "count"},
    "lineage.read": {},
    "canonicalize": {"rows_in": "count", "merge_ratio": "ratio"},
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit. Layers a workload does
    not call report 0."""
    units = {"session.start_s": "s", "session.jvm_peak_rss_mb": "MB",
             "session.workers_peak_rss_mb": "MB"}
    for layer, extras in LAYER_EXTRAS.items():
        units.update({f"{layer}.{k}": u for k, u in SPARK_UNITS.items()})
        units.update({f"{layer}.{k}": u for k, u in extras.items()})
    units.update({
        "server.wall_s": "s", "server.open_s": "s", "server.lookups": "count",
        "server.rows_per_lookup": "count", "server.lookup_p50_ms": "ms",
        "server.lookup_p95_ms": "ms",
        "extract.kernel_ms_per_page": "ms", "extract.kernel_mb_per_s": "MB/s",
        "extract.spark_overhead_ratio": "ratio",
        "trace.run_s": "s", "trace.overhead_s": "s", "trace.overhead_ratio": "ratio",
    })
    return units


PER_LAYER = per_layer_units()


def result_line(correct: bool, attempted: int, failed: int, values: dict,
                trace: bool) -> str:
    """The final JSON line; raises if a metric of the chosen set is missing."""
    units = PER_LAYER if trace else END_TO_END
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    return json.dumps({"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


# ------------------------------------------------------------------ memory
def _children(pid: int) -> list[int]:
    """Child processes of every thread of ``pid`` (the JVM forks the Python
    daemon from a thread other than its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _status_bytes(pid: int, field: str) -> int:
    """A ``kB`` field of /proc/<pid>/status in bytes (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class PeakRss:
    """Peak resident memory of the driver JVM inside the block (its
    ``VmHWM``, which the kernel tracks exactly, reset on entry) and,
    separately, the peak of the summed resident memory of the Python
    workers it forks, sampled every 100 ms. How many workers are alive at
    an instant depends on task scheduling, so their sum moves from run to
    run by far more than the JVM's peak."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.jvm_peak = 0
        self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.jvm_peak = max(self.jvm_peak, _status_bytes(self.root_pid, "VmHWM"))
        todo, workers = _children(self.root_pid), 0
        while todo:
            pid = todo.pop()
            workers += _status_bytes(pid, "VmRSS")
            todo.extend(_children(pid))
        self.workers_peak = max(self.workers_peak, workers)

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self._sample()

    def __enter__(self):
        with open(f"/proc/{self.root_pid}/clear_refs", "w") as f:
            f.write("5")  # restart VmHWM from the current resident size
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ------------------------------------------------------------------ session
def confine(work: str) -> dict:
    """Point every scratch location of Python, the JVM and Spark into the
    run's work dir; returns the Spark conf that does so for the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # the status store must still hold a layer's stages when it is read
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_session() -> None:
    """Stop Spark, if it started, and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------------ run
# set-ups per run; setup_s is their median. The first also launches the
# driver JVM and is far the slowest, so the median is in practice the
# slower of the two set-ups in the running JVM
SETUP_REPEATS = 3


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    conf = confine(work)
    try:
        return _run(workload, seed, seconds, trace, work, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def start_session(workload: str, conf: dict):
    """get_spark on 4 local cores, then tune_adaptive, as bench.py does.
    Returns the session and the seconds get_spark took."""
    from gossiphs_spark.session import get_spark, tune_adaptive

    spec = W.WORKLOADS[workload]
    t0 = time.perf_counter()
    # 16 shuffle partitions, as the frozen bench.py sets at 4 cores
    spark = get_spark(app_name="perfbench", cores=W.CORES,
                      shuffle_partitions=4 * W.CORES, extra_conf=conf)
    start_s = time.perf_counter() - t0
    tune_adaptive(spark, spec["n_pages"] * spec["body_scale"] * 600)
    return spark, start_s


def set_up(workload: str, seed: int, conf: dict):
    """Set the session up ``SETUP_REPEATS`` times: get_spark (context,
    package, engine warm-up), tune_adaptive and the input fill, stopping
    the previous session each time. The first set-up also launches the
    driver JVM. Returns the last session, its inputs, the wall time of
    each set-up and the first get_spark's time."""
    times, spark = [], None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark, start_s = start_session(workload, conf)
        pages, evidence = W.make_inputs(spark, workload, seed)
        times.append(time.perf_counter() - t0)
        if i == 0:
            cold_start_s = start_s
        if i < SETUP_REPEATS - 1:
            pages.unpersist()
            evidence.unpersist()
    return spark, (pages, evidence), times, cold_start_s


def _run(workload, seed, seconds, trace, work, conf) -> int:
    from pyspark import SparkContext

    spec = W.WORKLOADS[workload]
    try:
        # the job runs in the session of the last set-up
        spark, (pages, evidence), setups, start_s = set_up(workload, seed, conf)
        tr = Tracer(spark, enabled=trace)
        out = os.path.join(work, "out")
        before_job = last_job_id(spark.sparkContext)
        # resident memory is sampled in traced runs only
        with (PeakRss(SparkContext._gateway.proc.pid) if trace
              else contextlib.nullcontext()) as rss:
            region0 = time.perf_counter()
            with tr.layer(workload, spark_counters=False) as job:
                triples_per_s = W.JOBS[workload](spark, tr, pages, evidence, out)
            reads = (W.read_phase(tr, out, seed, until=region0 + seconds)
                     if spec["reads"] else {"statuses": [], "answers": {}})
            region_s = time.perf_counter() - region0

        t0 = time.perf_counter()
        results, info = W.run_checks(workload, seed, out, reads)
        problems = [p for r in results for p in r]
        info.update(session_start_s=start_s, setups_s=setups,
                    checks_s=time.perf_counter() - t0,
                    lookups=len(reads["statuses"]), problems=problems)
        if trace:
            values = layer_values(tr, workload, seed, start_s, region_s,
                                  spec["n_pages"])
            values["session.jvm_peak_rss_mb"] = rss.jvm_peak / 2**20
            values["session.workers_peak_rss_mb"] = rss.workers_peak / 2**20
            tr.dump(os.path.join(ROOT, ".bench_work", "spans",
                                 f"{workload}-seed{seed}.json"))
        else:
            values = {
                "setup_s": statistics.median(setups),
                "run_s": job["wall_s"],
                "triples_per_s": triples_per_s,
                "exec_memory_mb":
                    exec_memory_bytes(spark.sparkContext, before_job) / 2**20,
            }
        print(json.dumps({"workload": workload, "seed": seed, **info}))
        # operations: every layer call, every lookup and every check
        n_calls = sum(1 for s in tr.spans if s["name"] != workload)
        attempted = n_calls + len(reads["statuses"]) + len(results)
        failed = (sum(1 for s in reads["statuses"] if s != 200)
                  + sum(1 for r in results if r))
        print(result_line(not problems and not failed, attempted, failed,
                          values, trace))
        return 0
    finally:
        stop_session()


def layer_values(tr, workload, seed, start_s, region_s, n_pages) -> dict:
    """Per-layer metrics from the spans (each layer is called once);
    layers this workload does not call report 0."""
    values = dict.fromkeys(PER_LAYER, 0.0)
    values["session.start_s"] = start_s
    spans = {s["name"]: s for s in tr.spans}
    for metric in PER_LAYER:
        layer, key = metric.rsplit(".", 1)
        if key in spans.get(layer, {}):
            values[metric] = spans[layer][key]
    if "canonicalize" in spans:
        canon = spans["canonicalize"]
        values["canonicalize.merge_ratio"] = 1 - canon["rows_out"] / canon["rows_in"]
    kernel = W.kernel_sample(workload, seed)
    values["extract.kernel_ms_per_page"] = kernel["kernel_ms_per_page"]
    values["extract.kernel_mb_per_s"] = kernel["kernel_mb_per_s"]
    if "lineage.commit" in spans:
        # the commit's tasks run the kernel and little else; build_graph's
        # also run stats, the fm stage write and evidence prep
        values["extract.spark_overhead_ratio"] = (
            values["lineage.commit.executor_s"] / n_pages
            / kernel["kernel_s_per_page"])
    values["trace.run_s"] = spans[workload]["wall_s"]
    values["trace.overhead_s"] = tr.overhead_s
    values["trace.overhead_ratio"] = tr.overhead_s / region_s
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
