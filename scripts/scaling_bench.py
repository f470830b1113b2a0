"""Crawl throughput and N->4N scaling evidence (BASELINE.json north_rule).

  run --cpus N  one level: build or reuse the corpus, warm the wave
                machinery, time a crawl and the extract stage alone,
                print one JSON record
  ladder        taskset-pinned ``run`` subprocesses over --levels x --reps,
                each record appended to BENCH/history.jsonl; then writes
                BENCH/SCALING_LATEST.md from the rows of the revs measured
  report        the same tables, printed from BENCH/history.jsonl

Usage:
  python scripts/scaling_bench.py ladder --levels 2,8 --reps 3 --at-scale \
      --pages 120000 --weight 64 --min-capacity 1500
  python scripts/scaling_bench.py report --rev 4f251b8
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
HISTORY = os.path.join(ROOT, "BENCH", "history.jsonl")
LATEST = os.path.join(ROOT, "BENCH", "SCALING_LATEST.md")

HOSTS = 20            # synthetic corpus hosts
BUDGET = 1_000_000    # per-host max_per_wave: throughput mode, never binds
CORPUS_FILES = 256    # pages parquet files, whichever level generates them
GATE_WAIT_S = 180     # --min-capacity: re-probe interval while below the gate
GATE_GIVE_UP_S = 120 * 60   # a gated ladder starts no run after this long

EFF_FIELDS = (("pipeline", "urls_per_sec"),
              ("extract", "extract_urls_per_sec"),
              ("hardware", "host_capacity"))
EFFS = ("pipeline", "extract", "hardware", "engine_relative")


def _git_rev() -> str:
    """Engine revision stamp: only runs of one rev compare."""
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, check=True).stdout.strip()
    except Exception:
        return "unknown"


def host_capacity_probe(workers: int, dur: float = 2.5) -> float:
    """Aggregate busy-loop rate over ``workers`` processes — a pure-CPU
    measure of what the host ACTUALLY delivers at this concurrency right
    now.  A shared host's effective capacity can swing ~3x with its
    neighbours; recording it per run lets the scaling report separate
    engine scaling from host throttling."""

    def burn(q, dur):
        t0 = time.time()
        n = 0
        x = 0
        while time.time() - t0 < dur:
            for i in range(10000):
                x += i * i
            n += 1
        q.put(n)

    q = mp.Queue()
    ps = [mp.Process(target=burn, args=(q, dur)) for _ in range(workers)]
    for p in ps:
        p.start()
    total = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return total / dur


# ------------------------------------------------------------------ run
def ensure_corpus(spark, data_dir: str, pages: int, weight: int,
                  items: dict) -> str:
    """Path of the pages parquet under ``data_dir``, (re)generated unless
    its ``_GENERATED`` marker records the same generation params."""
    from pink_spider_spark.sources.synth import gen_pages_spark

    # the marker records (pages, weight, hosts): a bare "ok" marker once
    # let a weight-16 corpus masquerade as a weight-64 one across rounds
    # — silently different link topology
    marker = os.path.join(data_dir, "_GENERATED")
    path = os.path.join(data_dir, "pages")
    params = json.dumps({"pages": pages, "weight": weight, "hosts": HOSTS},
                        sort_keys=True)
    cached = None
    if os.path.exists(marker):
        with open(marker) as f:
            cached = f.read().strip()
    if cached != params:
        gen_pages_spark(spark, pages, items, n_hosts=HOSTS,
                        partitions=CORPUS_FILES, weight=weight) \
            .write.mode("overwrite").parquet(path)
        with open(marker, "w") as f:
            f.write(params)
    return path


def _generate(data_dir: str, pages: int, weight: int) -> None:
    """Ladder pre-generation, run in a child process so its JVM is gone
    before the first timed run."""
    from pink_spider_spark.session import get_spark
    from pink_spider_spark.sources.synth import build_catalog_items

    spark = get_spark(app_name="scaling-corpus")
    ensure_corpus(spark, data_dir, pages, weight, build_catalog_items())
    spark.stop()


def cmd_run(args) -> None:
    from pyspark.sql import functions as F

    from pink_spider_spark.crawl.driver import CrawlConfig, CrawlDriver
    from pink_spider_spark.functions.udfs import extract_pages
    from pink_spider_spark.session import get_spark
    from pink_spider_spark.sources.synth import (build_catalog_items,
                                                 robots_rows, seed_urls)
    from pink_spider_spark.sources.tables import TableStore

    spark = get_spark(app_name=f"scaling-bench-{args.cpus}",
                      master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    items = build_catalog_items()
    pages = spark.read.parquet(ensure_corpus(
        spark, args.data_dir, args.pages, args.weight, items))
    robots = spark.createDataFrame(
        robots_rows(HOSTS).assign(max_per_wave=BUDGET))
    # --at-scale forces the 10^10-design-point paths whatever the batch
    # size: sharded bloom, distributed wave order, no driver url list
    scale = (dict(bloom_shard_min=0, wave_order_threshold=0,
                  url_collect_max=0) if args.at_scale else {})

    def crawl(root, seeds, **cfg):
        return CrawlDriver(spark, TableStore(root), pages, robots, items,
                           CrawlConfig(**cfg)).run(seed_urls(seeds, HOSTS))

    # steady state: one tiny throwaway wave warms python workers, codegen
    # for the window/dequeue plans, parquet writers, the bloom UDF and the
    # OS page cache — start-up cost, excluded alike at every level
    warm_root = tempfile.mkdtemp(prefix="scaling_bench_warm_")
    crawl(warm_root, min(500, args.seeds), max_depth=0, max_waves=1,
          **{**scale, "wave_order_threshold": 0})
    shutil.rmtree(warm_root, ignore_errors=True)

    capacity = host_capacity_probe(args.cpus)

    root = tempfile.mkdtemp(prefix="scaling_bench_state_")
    t0 = time.time()
    stats = crawl(root, args.seeds, max_depth=args.depth, max_waves=50,
                  **scale)
    elapsed = time.time() - t0
    shutil.rmtree(root, ignore_errors=True)
    waves = [s for s in stats if not s.get("done")]
    urls = sum(s["batch"] for s in waves)

    # dominant-stage probe: one pure extraction pass over the corpus, a
    # second, noise-resistant read of scaling
    t0 = time.time()
    extract_pages(pages, items).select(F.count("*")).collect()
    extract_dt = time.time() - t0

    print(json.dumps({
        "mode": "at_scale" if args.at_scale else "default",
        "cpus": args.cpus,
        "pages": args.pages,
        "weight": args.weight,
        "waves": len(waves),
        "urls_processed": urls,
        "seconds": round(elapsed, 2),
        "urls_per_sec": round(urls / elapsed, 1),
        "extract_urls_per_sec": round(args.pages / extract_dt, 1),
        "host_capacity": round(capacity, 1),
        "rev": _git_rev(),
        "stage_secs": [s["stage_secs"] for s in waves],
    }))
    spark.stop()


# --------------------------------------------------------------- ladder
def _wait_for_capacity(cpus: int, gate: float, give_up: float) -> bool:
    """Hold the next run until the busy-loop rate per core reaches
    ``gate`` (throttled runs only lose the best-of); False at give_up."""
    if not gate:
        return True
    while time.time() < give_up:
        rate = host_capacity_probe(cpus) / cpus
        print(json.dumps({"cpus": cpus, "probe_per_core": round(rate, 1),
                          "gate": gate}), flush=True)
        if rate >= gate:
            return True
        time.sleep(GATE_WAIT_S)
    return False


def cmd_ladder(args) -> None:
    levels = [int(x) for x in args.levels.split(",")]
    gen = mp.get_context("spawn").Process(
        target=_generate, args=(args.data_dir, args.pages, args.weight))
    gen.start()
    gen.join()
    if gen.exitcode:
        sys.exit(f"corpus generation failed (exit code {gen.exitcode})")

    give_up = time.time() + GATE_GIVE_UP_S
    revs = set()
    os.makedirs(os.path.dirname(HISTORY), exist_ok=True)
    for cpus in [c for _ in range(args.reps) for c in levels]:
        if not _wait_for_capacity(cpus, args.min_capacity, give_up):
            break
        # pin the process tree (JVM + python workers) to `cpus` cores:
        # local[N] caps task slots, not cores, and a task's JVM scan
        # thread and python worker run pipelined (~1.5 cores), so unpinned
        # small-N levels borrow idle cores and understate N->4N scaling
        cmd = ["taskset", "-c", f"0-{cpus - 1}", sys.executable,
               os.path.abspath(__file__), "run", "--cpus", str(cpus),
               "--pages", str(args.pages), "--weight", str(args.weight),
               "--seeds", str(args.seeds), "--depth", str(args.depth),
               "--data-dir", args.data_dir] + ["--at-scale"] * args.at_scale
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                             check=True).stdout
        line = [ln for ln in out.splitlines() if ln.startswith("{")][-1]
        print(line, flush=True)
        with open(HISTORY, "a") as f:
            f.write(line + "\n")
        revs.add(json.loads(line)["rev"])
    if not revs:
        sys.exit("no run passed the capacity gate")

    md = f"""# BENCH/SCALING_LATEST — crawl throughput + N→4N scaling

`scaling_bench.py ladder` at rev {", ".join(sorted(revs))}: levels
{args.levels} × {args.reps} interleaved reps, each run pinned to its N
cores; {args.pages} pages of weight {args.weight}, {args.seeds} seeds,
depth {args.depth}, {"at-scale" if args.at_scale else "default"} mode;
tables over every history row at this rev.  Hardware is the N→4N
scaling of each run's busy-loop probe (taken just before its timed
crawl), engine-relative = pipeline / hardware; pair i is the i-th N run
against the i-th 4N run, and their median is the headline.

{history_tables(revs)}"""
    with open(LATEST, "w") as f:
        f.write(md)
    print(md)


# --------------------------------------------------------------- report
def read_history(lines, revs=None) -> list:
    """History rows that carry a parallelism level, of the given engine
    revs only (all revs if None); unparseable lines are skipped."""
    rows = []
    for line in lines:
        try:
            r = json.loads(line)
        except json.JSONDecodeError:
            continue
        if "cpus" in r and (not revs or r.get("rev") in revs):
            rows.append(r)
    return rows


def _effs(a: dict, b: dict) -> dict:
    """N->4N efficiencies (field at 4N / field at N) / 4 of run ``b``
    over run ``a``; None where either lacks the field."""
    e = {name: b[f] / a[f] / 4 if a.get(f) and b.get(f) else None
         for name, f in EFF_FIELDS}
    e["engine_relative"] = (e["pipeline"] / e["hardware"]
                            if e["pipeline"] and e["hardware"] else None)
    return e


def _median(effs: list) -> dict:
    med = {}
    for k in EFFS:
        vals = [e[k] for e in effs if e[k] is not None]
        med[k] = statistics.median(vals) if vals else None
    return med


def scaling_report(rows) -> list:
    """One entry per (mode, pages, weight) group — modes never mix.  Each
    level keeps its best run by pipeline throughput; each N->4N pair gets
    the efficiencies of those best runs, of every window-matched pair
    (the i-th N row with the i-th 4N row in history order) and the
    median over those pairs."""
    groups: dict = {}
    for r in rows:
        key = (r.get("mode", "default"), r["pages"], r.get("weight", 0))
        groups.setdefault(key, {}).setdefault(r["cpus"], []).append(r)
    out = []
    for (mode, pages, weight), by_level in sorted(groups.items()):
        best = {cpus: max(runs, key=lambda r: r["urls_per_sec"])
                for cpus, runs in sorted(by_level.items())}
        pairs = {}
        for n in [c for c in best if 4 * c in best]:
            matched = [_effs(a, b)
                       for a, b in zip(by_level[n], by_level[4 * n])]
            pairs[(n, 4 * n)] = {
                "best_of": _effs(best[n], best[4 * n]),
                "matched": matched,
                "median": _median(matched),
            }
        out.append({"mode": mode, "pages": pages, "weight": weight,
                    "runs": sum(len(v) for v in by_level.values()),
                    "best": best, "pairs": pairs})
    return out


def _eff_row(pair: str, which: str, e: dict) -> str:
    cells = ["—" if e[k] is None else f"{e[k]:.3f}" for k in EFFS]
    return f"| {pair} | {which} | " + " | ".join(cells) + " |"


def format_report(groups: list) -> str:
    lines = []
    for g in groups:
        lines += [
            f"## {g['mode']} · {g['pages']} pages · weight {g['weight']}"
            f" — {g['runs']} runs", "",
            "| level | urls/s (pipeline) | seconds | urls/s (extract stage)"
            " | host capacity (loops/s) |",
            "|---|---|---|---|---|"]
        for cpus, r in g["best"].items():
            lines.append(
                f"| local[{cpus}] | {r['urls_per_sec']} | {r['seconds']} "
                f"| {r.get('extract_urls_per_sec') or '—'} "
                f"| {r.get('host_capacity') or '—'} |")
        if g["pairs"]:
            lines += [
                "", "| N→4N (target ≥ 0.8) | runs | pipeline | extract stage"
                " | hardware | engine-relative |",
                "|---|---|---|---|---|---|"]
        for (n, n4), p in g["pairs"].items():
            pair = f"local[{n}]→local[{n4}]"
            lines.append(_eff_row(pair, "best-of", p["best_of"]))
            lines += [_eff_row(pair, f"pair {i}", e)
                      for i, e in enumerate(p["matched"])]
            lines.append(_eff_row(pair, "**median**", p["median"]))
        lines.append("")
    return "\n".join(lines)


def history_tables(revs=None) -> str:
    with open(HISTORY) as f:
        rows = read_history(f, revs)
    return (f"{len(rows)} runs at rev {', '.join(sorted(revs or ['any']))}"
            f"\n\n{format_report(scaling_report(rows))}")


def cmd_report(args) -> None:
    print(history_tables(set(args.rev.split(",")) if args.rev else None))


def main():
    corpus = argparse.ArgumentParser(add_help=False)
    corpus.add_argument("--pages", type=int, default=60000)
    corpus.add_argument("--weight", type=int, default=16)
    corpus.add_argument("--seeds", type=int, default=20000)
    corpus.add_argument("--depth", type=int, default=1)
    corpus.add_argument("--data-dir", default=os.path.join(
        tempfile.gettempdir(), "scaling_corpus"))
    corpus.add_argument("--at-scale", action="store_true",
                        help="force the 10^10-design-point crawl paths")
    ap = argparse.ArgumentParser(
        description="crawl throughput and N->4N scaling evidence")
    sub = ap.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run", parents=[corpus],
                         help="time one parallelism level")
    run.add_argument("--cpus", type=int, default=8)
    run.set_defaults(fn=cmd_run)
    ladder = sub.add_parser("ladder", parents=[corpus],
                            help="pinned runs over levels x reps")
    ladder.add_argument("--levels", default="2,4,8,16,32",
                        help="comma-separated parallelism levels")
    ladder.add_argument("--reps", type=int, default=2)
    ladder.add_argument("--min-capacity", type=float, default=0.0,
                        help="busy-loop loops/s per core a run waits for "
                             "(0: no gate)")
    ladder.set_defaults(fn=cmd_ladder)
    report = sub.add_parser("report", help="tables from the history")
    report.add_argument("--rev", default=None,
                        help="comma-separated engine revs (default: all)")
    report.set_defaults(fn=cmd_report)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
