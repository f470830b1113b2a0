"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_heavy --seed 1 \\
        --seconds 10 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns on the Spark event log and the
per-layer probes and reports the per-layer metrics (its own end-to-end
numbers appear as ``traced.*`` so that the tracing overhead is visible).
Everything the run writes stays under ``.perfbench_work/`` in the current
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
# driver JVM heap: a smaller one (1g) made waves ~30% slower from GC
DRIVER_MEM = "3g"
STOP_TIMEOUT_S = 60


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Span:
    __slots__ = ("start", "end")

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Context:
    """Per-run state: the session, the work directory and the list of
    timed spans (the event-log reader attributes Spark jobs to them)."""

    def __init__(self, work: str, seed: int, trace: bool):
        self.work = work
        self.seed = seed
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.spans: list = []

    def new_dir(self, prefix: str) -> str:
        path = os.path.join(self.work, "stores",
                            f"{prefix}-{uuid.uuid4().hex[:8]}")
        os.makedirs(path)
        return path

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(name, name, False)
        sp = Span()
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append((name, sp.start, sp.end))


def descendants(pid: int) -> list:
    """``pid`` and every process below it."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def process_tree_peak_rss_mb(pid: int, exclude: str | None = None) -> float:
    """Sum of peak resident set sizes (VmHWM) over ``pid`` and every
    descendant: the driver JVM and the Python workers it forked.
    ``exclude``: skip processes whose command name starts with it."""
    total_kb = 0
    for p in descendants(pid):
        if exclude is not None and _comm(p).startswith(exclude):
            continue
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def start_session(work: str, trace: bool):
    from pink_spider_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, shut the driver JVM down and wait until it and
    the Python workers under it have exited (killing what outlives
    ``STOP_TIMEOUT_S``)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    procs = descendants(jvm.pid) if jvm is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + STOP_TIMEOUT_S
    while procs and time.time() < deadline:
        procs = [p for p in procs if not _gone(p)]
        time.sleep(0.1)
    for p in procs:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


def _gone(pid: int) -> bool:
    """Exited (or a zombie waiting for its parent to reap it)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def run(args, work: str) -> dict:
    from pink_spider_spark.functions.udfs import ensure_package_shipped

    from perfbench import hostprobe
    from perfbench.workloads import CrawlRun, make_run

    ctx = Context(work, args.seed, bool(args.trace))
    runner = make_run(ctx, args.workload)
    # the traced run's crawl state: the measured crawl itself, or a small
    # crawl over the same corpus when the workload runs none
    layer_crawl = runner if isinstance(runner, CrawlRun) else None
    once = {}

    t0 = time.time()
    runner.start_oracle()
    if ctx.trace and layer_crawl is None:
        layer_crawl = CrawlRun(ctx, runner.wl.layer_crawl)
        layer_crawl.start_oracle()
    ctx.spark = start_session(work, ctx.trace)
    try:
        ensure_package_shipped(ctx.spark)
        once["setup.session_start_s"] = time.time() - t0
        setup_times = []
        for _ in range(SETUP_REPEATS):
            t = time.time()
            runner.prepare()
            setup_times.append(time.time() - t)
        t = time.time()
        runner.warm_up()
        runner.wait_oracle()
        once["setup.warmup_s"] = time.time() - t

        probe_before = hostprobe.busy_loops_per_s()
        runner.measure(args.seconds)
        rss = process_tree_peak_rss_mb(os.getpid())
        py_rss = process_tree_peak_rss_mb(os.getpid(), exclude="java")
        once["jvm.peak_rss_mb"] = rss - py_rss
        probe_after = hostprobe.busy_loops_per_s()

        attempted, failed = runner.check()
        e2e = runner.metrics()
        e2e["setup_s"] = (statistics.median(setup_times), "s")
        e2e["peak_rss_mb"] = (py_rss, "MB")
        print(json.dumps({"info": {
            "workload": args.workload, "seed": args.seed,
            "setup_s": [round(s, 3) for s in setup_times],
            "batch_s": [round(s, 3) for s in runner.batch_seconds()],
            "host_busy_loops_per_s": [round(probe_before), round(probe_after)],
            **{k: round(v, 3) for k, (v, _) in e2e.items()},
            **{k: round(v, 3) for k, v in once.items()}}}), flush=True)

        if ctx.trace:
            if layer_crawl is not runner:
                layer_crawl.pages = runner.pages
                layer_crawl.robots = runner.robots
                layer_crawl.wait_oracle()
                layer_crawl.measure(args.seconds)
                a, f = layer_crawl.check()
                attempted += a
                failed += f
            metrics, a, f = trace_layers(ctx, runner, layer_crawl, e2e, once,
                                         (probe_before + probe_after) / 2)
            attempted += a
            failed += f
        else:
            metrics = e2e
    finally:
        stop_session(ctx.spark)
    if ctx.trace:
        add_spark_layers(ctx, runner, metrics)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in sorted(metrics.items())}}


def unit_of(name: str) -> str:
    if name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_us_per_doc"):
        return "us"
    if name.endswith(("_per_s", "_per_s_1core")):
        return "1/s"
    if name.endswith(("_s", "_s_p50")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_frac", "_skew")):
        return "ratio"
    return "count"


def trace_layers(ctx, runner, layer_crawl, e2e, once, host_rate) -> tuple:
    from perfbench import layers

    rec = layer_crawl.rec
    vals = dict(once)
    vals["host.busy_loops_per_s"] = host_rate
    vals["traced.urls_per_s"] = e2e["urls_per_s"][0]
    vals["traced.batch_s_p50"] = e2e["batch_s_p50"][0]
    pages = runner.inputs.lazy_pages()
    sample = [(u, pages[u]) for u in
              runner.inputs.sample_urls(layers.SAMPLE_PAGES, "extract-layers")]
    vals.update(layers.extract_layers(sample, runner.items))
    vals.update(layers.udf_layer(
        ctx, runner.pages, runner.items,
        runner.inputs.sample_urls(layers.UDF_PAGES, "udf-layer")))
    vals.update(layers.frontier_layers(ctx, rec.store, runner.robots,
                                       layer_crawl.wl.crawl_config(),
                                       layer_crawl.wl.n_seeds))
    vals.update(layers.crawl_record_layers(rec))
    api_vals, attempted, failed = layers.api_layers(
        ctx, rec.store, layer_crawl.oracle_result["text"], rec.waves,
        random.Random(f"perfbench-api-{ctx.seed}"))
    vals.update(api_vals)
    return {k: (v, unit_of(k)) for k, v in vals.items()}, attempted, failed


SPARK_KEYS = ("jobs", "tasks", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes", "task_skew")
SPAN_KEYS = ("jobs", "executor_cpu_s", "task_skew")
SPAN_LAYERS = ("crawl.run_wave", "bloom.build", "bloom.prune",
               "bloom.update", "scheduler.dequeue", "udfs.extract_pages")


def add_spark_layers(ctx, runner, metrics: dict) -> None:
    """Roll the event log up per timed call: the workload's measured
    calls as a whole (``spark.*``) and each probed layer
    (``spark.<layer>.*``)."""
    from perfbench import eventlog
    from perfbench.layers import API_OPS

    path = eventlog.find_log(os.path.join(ctx.work, "eventlog"))
    stats = eventlog.layer_stats(eventlog.read_events(path), ctx.spans)
    measured = eventlog.total(stats, runner.SPANS)
    for k in SPARK_KEYS:
        metrics[f"spark.{k}"] = (measured[k], unit_of(k))
    waves = sum(1 for name, _, _ in ctx.spans if name == "crawl.run_wave")
    metrics["spark.jobs_per_wave"] = (
        stats.get("crawl.run_wave", {}).get("jobs", 0) / max(waves, 1),
        "count")
    groups = [(name, (name,)) for name in SPAN_LAYERS]
    groups.append(("api", [f"api.{op}" for op in API_OPS]))
    for label, names in groups:
        s = eventlog.total(stats, names)
        for k in SPAN_KEYS:
            metrics[f"spark.{label}.{k}"] = (s[k], unit_of(k))


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, os.getcwd())
    sys.path.insert(1, ROOT)
    try:
        import pink_spider_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from "
              f"{os.getcwd()}: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
        # the spawn pools' resource tracker would otherwise outlive us
        # until it reads EOF; stop it and reap it now
        from multiprocessing import resource_tracker
        with contextlib.suppress(AttributeError):
            resource_tracker._resource_tracker._stop()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
