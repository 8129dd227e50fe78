#!/usr/bin/env python3
"""sparksearch benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query-head --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. Drives sparksearch through its public API
from a single closed-loop client on Spark ``local[nproc]``, checks every
answer against ``oracle.OracleIndex``, and prints, as the last line of
standard output,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, from spans recorded around
the library calls (see perfbench/README.md). All scratch files live under
``.bench_work/`` in the current directory and are removed on exit.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_start() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


T_START = process_start()


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (user .. steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def proc_tree(root_pid: int) -> list[int]:
    """A process and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_peak_rss_mb(root_pid: int) -> dict[str, float]:
    """Peak RSS (VmHWM) of a process tree, summed by command name: here the
    driver python, the JVM and the python workers."""
    by_name: dict[str, float] = {}
    for pid in proc_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(ln.split(":", 1) for ln in f)
        except OSError:
            continue
        name = fields["Name"].strip()
        kb = int(fields.get("VmHWM", "0 kB").split()[0])
        by_name[name] = by_name.get(name, 0.0) + kb / 1024.0
    return by_name


class Context:
    """What a workload gets: the session, its inputs and the clocks."""

    def __init__(self, spark, seed: int, seconds: int, work: str, tracer):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.work, self.tracer = work, tracer
        self.parts = nproc()
        self.setup_s = None
        self.peak_rss_mb = None
        self.rss_mb_by_process: dict[str, float] = {}
        self.measure_s = None
        self.steal_share = None
        self._ticks: list[int] = []

    def setup_done(self, excluded_s: float = 0.0) -> None:
        """Called just before the first timed query; ``excluded_s`` is
        set-up time spent on the correctness gate."""
        self.setup_s = time.time() - T_START - excluded_s
        self._ticks = cpu_ticks()

    def measure_done(self) -> None:
        self.measure_s = time.time() - T_START - self.setup_s
        d = [b - a for a, b in zip(self._ticks, cpu_ticks())]
        #: share of CPU time the hypervisor gave to other guests while
        #: this run measured: a noisy-neighbour check for the record
        self.steal_share = d[7] / max(1, sum(d))
        self.rss_mb_by_process = tree_peak_rss_mb(os.getpid())
        self.peak_rss_mb = sum(self.rss_mb_by_process.values())


def make_spark(work: str):
    from pyspark.sql import SparkSession
    n = nproc()
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    spark = (SparkSession.builder
             .master(f"local[{n}]")
             .appName("sparksearch-perfbench")
             .config("spark.driver.memory", "2g")
             # a fixed, pre-touched heap: G1's heap growth otherwise makes
             # the JVM's peak RSS swing by 20% between identical runs.
             # C1 only: C2 compiles Spark's code paths for ~10 CPU-seconds
             # beside the first build, on the same few cores, and makes
             # the first build's time swing with it
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g "
                     "-XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1")
             .config("spark.local.dir", f"{work}/spark-local")
             .config("spark.sql.warehouse.dir", f"{work}/warehouse")
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             # the traced run reads every job back from the status store
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def host_record(spark, args) -> dict:
    import pyspark
    jvm = spark.sparkContext._jvm
    return {"nproc": nproc(), "loadavg": list(os.getloadavg()),
            "pyspark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace}


def install_wrappers(tracer) -> None:
    """Spans around the public functions of each layer."""
    from sparksearch import build, exec as ex, index, merge, segments, wand
    tracer.wrap(build, "build_index", "build.index")
    tracer.wrap(build, "analyze_pages", "build.analyze_pages")
    tracer.wrap(build, "run_jobs", "build.run_jobs")
    tracer.wrap(merge, "add_generation", "merge.add_generation")
    for attr in ("__init__", "docs", "postings", "stats"):
        tracer.wrap(index.IndexReader, attr, "index.open")
    tracer.wrap(segments.SegmentsReader, "blocks", "index.open")
    tracer.wrap(segments.SegmentsReader, "postings_for",
                "segments.postings_for")
    tracer.wrap(wand, "wand_topk", "wand.topk")
    tracer.wrap(ex.Executor, "search", "exec.search")
    tracer.wrap(ex.Executor, "msearch", "exec.msearch")


def end_to_end(ctx, out: dict) -> dict:
    lat = sorted(out["latencies"])
    return {"setup_s": ctx.setup_s,
            "build_docs_per_s": out["build_docs_per_s"],
            "index_bytes_per_text_byte": out["index_bytes_per_text_byte"],
            "query_p50_ms": 1000 * statistics.median(lat),
            "peak_rss_mb": ctx.peak_rss_mb}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")

    # the engine, its python workers and every scratch file come from and
    # stay in the current checkout
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    work = os.path.join(os.getcwd(), ".bench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        # imports sparksearch, so this fails outside a checkout
        from perfbench import layers, spans, workloads

        tracer = spans.Tracer(enabled=bool(args.trace))
        if args.trace:
            install_wrappers(tracer)
        spark = make_spark(work)
        try:
            host = host_record(spark, args)
            ctx = Context(spark, args.seed, args.seconds, work, tracer)
            out = workloads.WORKLOADS[args.workload](ctx)
            if args.trace:
                tracer.attach_jobs(spark.sparkContext)
                metrics = layers.per_layer(tracer)
                wanted = spec["per_layer"]
            else:
                metrics = end_to_end(ctx, out)
                wanted = spec["end_to_end"]
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    ops = out["ops"]
    print(json.dumps({"host": host, "workload_record": out["record"],
                      "latencies_ms": [round(1000 * x) for x in
                                       out["latencies"]],
                      "peak_rss_mb_by_process": ctx.rss_mb_by_process,
                      "cpu_steal_share": ctx.steal_share,
                      "measure_s": ctx.measure_s,
                      "wall_s": time.time() - T_START,
                      "failures": ops.failures}))
    result = {"correct": ops.failed == 0, "attempted": ops.attempted,
              "failed": ops.failed,
              "metrics": {w["name"]: {"value": float(metrics[w["name"]]),
                                      "unit": w["unit"]}
                          for w in wanted}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
