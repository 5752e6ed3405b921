"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload bulk_pdf --seed 1 --seconds 10 --trace 0

One run = one client, one job at a time (a closed loop) on local[nproc]:

1. build or reuse the seeded corpus (timed on its own, never part of a job);
2. set up in a fresh JVM -- ``session.get_spark`` plus a warm-up scan of a
   slice of the input -- as a job's first session pays it: ``setup_s``;
3. run the job back to back for ``--seconds``, and until the workload's
   ``min_jobs`` ran; ``job_s`` is the median of the jobs in the second
   half (the first one is cold and the JIT warms through the next few);
4. check the last job's outputs and report ``attempted`` / ``failed``.

With ``--trace 1`` the loop takes half the time; the session is then
restarted with the Spark UI on and ``TRACED_JOBS`` jobs run with every
layer call tagged by a span and job group; the per-layer metrics are
printed instead of the end-to-end ones.
Spans go to ``.perfbench/out/``. Progress goes to standard error; the last
line of standard output is always the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACED_JOBS = 3
DRIVER_MEM = "3g"


def log(what: str, value) -> None:
    """Progress on standard error; standard output ends with the result."""
    print(f"perfbench: {what}: {value}", file=sys.stderr, flush=True)


def metric_units(trace: int) -> dict:
    """{name: unit} of the metrics BENCHMARK.json asks for in this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=None,
                   help="corpus size override (the self-test uses tiny sizes)")
    return p.parse_args(argv)


def _session_env(work: str) -> dict:
    """Environment and Spark settings that keep the run inside the checkout
    and independent of the caller's working directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import the package from this checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    return {
        "master": f"local[{cpus}]",
        "extra": {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.driver.host": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    }


class Bench:
    def __init__(self, wl, work: str):
        self.wl = wl
        self.work = work
        self.conf = _session_env(work)
        self.spark = None

    def start(self, extra=None):
        from metadatadocumentparser_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            master=self.conf["master"], extra={**self.conf["extra"], **(extra or {})}
        )
        return time.perf_counter() - t0

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def out(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def setup(self, extra=None):
        """(start_s, setup_s) of the run's one set-up, cold as a job's
        first session pays it: ``session.get_spark`` launches the JVM, then
        a warm-up scan aggregates computed columns over the input slice."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        start_s = self.start(extra)
        self.spark.read.parquet(self.wl.corpus.slice_path).agg(
            F.sum(F.length("text")), F.countDistinct(F.hash("text"))
        ).collect()
        return start_s, time.perf_counter() - t0

    def job(self, tr) -> float:
        """One job into ``<work>/job``, every layer call spanned by ``tr``:
        its wall time."""
        out = self.out("job")
        t0 = time.perf_counter()
        with tr.span("job"):
            self.wl.run(self.spark, self.wl.corpus.path, out, tr)
        return time.perf_counter() - t0

    def loop(self, seconds: float) -> list:
        """Back-to-back untraced jobs, started while less than ``seconds``
        have passed and until at least the workload's ``min_jobs`` ran:
        their times."""
        from perfbench.trace import Tracer

        times = []
        t_start = time.perf_counter()
        while len(times) < self.wl.min_jobs or time.perf_counter() - t_start < seconds:
            times.append(self.job(Tracer(None)))
        return times


def run(args) -> dict:
    from perfbench.corpora import dir_bytes
    from perfbench.workloads import WORKLOADS

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    wl = WORKLOADS[args.workload](os.path.join(state, "cache"), args.seed, args.size)
    bench = Bench(wl, work)
    rows = wl.corpus.rows
    units = metric_units(args.trace)
    try:
        # the traced run's session has the Spark UI on, for the REST metrics;
        # it keeps every stage, so no group's stages are evicted unread
        start_s, setup_s = bench.setup({
            "spark.ui.enabled": "true", "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
        } if args.trace else None)
        log("set-up (start_s, setup_s)", [start_s, setup_s])
        if args.trace:
            metrics = traced(bench, args, start_s)
        else:
            times = bench.loop(args.seconds)
            log("job times", times)
            # the first job is cold and the JIT keeps warming through the
            # next few: job_s is the median of the second half of the jobs
            job_s = statistics.median(times[len(times) // 2:])
            metrics = {
                "setup_s": setup_s,
                "job_s": job_s,
                "rows_per_s": rows / job_s,
                "output_bytes_per_input_byte": (
                    dir_bytes(os.path.join(work, "job")) / wl.corpus.input_bytes
                ),
            }
        t0 = time.perf_counter()
        failed = min(len(wl.faults(os.path.join(work, "job"))), rows)
        log("check_s", time.perf_counter() - t0)
    except Exception:
        # a job that raises fails every row it was given
        traceback.print_exc()
        return {"correct": False, "attempted": rows, "failed": rows, "metrics": {}}
    finally:
        bench.stop()
        shutdown_gateway()
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": failed == 0,
        "attempted": rows,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def traced(bench: Bench, args, start_s: float) -> dict:
    """After a cold untraced job, traced and untraced jobs alternate, traced
    first and last, until ``TRACED_JOBS`` traced jobs ran and ``--seconds``
    passed. A traced job has every layer call in a span and a Spark job
    group. Alternating keeps the JIT's warming out of the tracing overhead
    (``trace.job_s`` minus ``trace.untraced_job_s``, medians of each kind);
    both kinds run with the UI on, so the overhead leaves out the UI
    listener. The per-layer metrics come from the last traced job."""
    from pyspark.sql import functions as F

    from perfbench import trace

    wl = bench.wl
    prime_s = bench.job(trace.Tracer(None))
    tracers, times, untraced = [], [], []
    t_start = time.perf_counter()
    while len(tracers) < TRACED_JOBS or time.perf_counter() - t_start < args.seconds:
        if tracers:
            untraced.append(bench.job(trace.Tracer(None)))
        tr = trace.Tracer(bench.spark.sparkContext, f"{wl.name}-seed{args.seed}-job{len(tracers)}")
        times.append(bench.job(tr))
        tracers.append(tr)
    log("cold, traced, untraced job times", [prime_s, times, untraced])
    spark, out = bench.spark, os.path.join(bench.work, "job")
    with tr.span("sources.scan"):
        spark.read.parquet(wl.corpus.path).agg(F.sum(F.length("text"))).collect()

    metrics = {k: 0.0 for k in metric_units(1)}
    metrics.update(wl.layer_metrics(spark, out, tr))
    # Spark-wide counts over the job's own groups (its spans and the job
    # span itself), not the lookups made after it
    in_job = {"job"} | {s["name"] for s in tr.spans if s["parent"] == "job"}
    groups = {name: tr.group_metrics(name) for name in {s["name"] for s in tr.spans}}
    total = {k: sum(groups[g][k] for g in in_job)
             for k in ("tasks", "failed_tasks", "executor_run_s", "gc_s")}
    metrics.update({
        "session.start_s": start_s,
        "session.prime_s": prime_s,
        "sources.scan_s": tr.seconds("sources.scan"),
        "sources.input_bytes": wl.corpus.input_bytes,
        "corpus.gen_s": wl.corpus.gen_s,
        "spark.tasks": total["tasks"],
        "spark.failed_tasks": total["failed_tasks"],
        "spark.executor_run_s": total["executor_run_s"],
        "spark.gc_s": total["gc_s"],
        "trace.job_s": statistics.median(times),
        "trace.untraced_job_s": statistics.median(untraced),
        "trace.overhead_s": statistics.median(times) - statistics.median(untraced),
    })
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    trace.dump(os.path.join(out_dir, f"spans-{wl.name}-seed{args.seed}.json"), tracers)
    return metrics


def shutdown_gateway():
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "metadatadocumentparser_spark")):
        print(f"perfbench: package sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
