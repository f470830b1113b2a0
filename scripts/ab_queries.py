"""Same-window A/B for per-query bench regressions.

Same query, two engine revisions (two checkouts), run in fresh
subprocesses alternated A/B/A/B with a capacity probe before each run, so
host drift hits both arms equally — if the medians match, the regression
was host weather, not code.

Usage:
  python scripts/ab_queries.py rev --targets docs_line_dedup \
      --other-root /path/to/old/checkout --reps 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from scaling_bench import ROOT, host_capacity_probe

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = len(os.sched_getaffinity(0))

_REV_SNIPPET = r'''
import sys, time, json
sys.path.insert(0, sys.argv[1])
import os
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
from pink_spider_spark.session import get_spark
from pink_spider_spark import queries as Q
spark = get_spark(app_name="ab-rev")
sf = sys.argv[3]
name = sys.argv[2]
Q.QUERY_BUILDERS[name](spark, sf).write.mode("overwrite").format("noop").save()
t0 = time.time()
Q.QUERY_BUILDERS[name](spark, sf).write.mode("overwrite").format("noop").save()
print("ABSEC " + str(round(time.time() - t0, 3)))
spark.stop()
'''


def cmd_rev(args):
    targets = args.targets.split(",")
    here_root = args.here_root or ROOT
    out = {}
    for t in targets:
        runs = {"here": [], "other": [], "cap_here": [], "cap_other": []}
        for _rep in range(args.reps):
            for label, root in (("here", here_root), ("other", args.other_root)):
                runs[f"cap_{label}"].append(round(host_capacity_probe(CPUS), 1))
                r = subprocess.run(
                    [sys.executable, "-c", _REV_SNIPPET, root, t, SF_DIR],
                    capture_output=True, text=True)
                line = [l for l in r.stdout.splitlines()
                        if l.startswith("ABSEC")]
                runs[label].append(float(line[-1].split()[1]) if line else None)
        vals_h = [v for v in runs["here"] if v is not None]
        vals_o = [v for v in runs["other"] if v is not None]
        runs["median_here"] = round(statistics.median(vals_h), 3) if vals_h else None
        runs["median_other"] = round(statistics.median(vals_o), 3) if vals_o else None
        out[t] = runs
    print(json.dumps({"experiment": "rev", "sf_dir": SF_DIR,
                      "other_root": args.other_root, "results": out}))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("rev")
    r.add_argument("--targets", required=True)
    r.add_argument("--other-root", required=True)
    r.add_argument("--here-root", default=None,
                   help="engine root for the 'here' arm (default: this repo)")
    r.add_argument("--reps", type=int, default=5)
    r.set_defaults(fn=cmd_rev)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
