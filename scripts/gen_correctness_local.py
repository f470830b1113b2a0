"""Bank local correctness: every queries() entry vs its DuckDB oracle at
sf0.01 AND sf0.1, per-query rows + hash-match + secs.  A query counts
green only when ``verify_oracle.compare_query`` finds no mismatch: both
canonicalization paths must match — the fetchall canon (row-value
truth) AND the driver-faithful pandas canon (dtype + hashable-schema
sensitive; see the verify_oracle.py docstring) — so it is green only if
the driver's own gate would also pass it.

Usage: python scripts/gen_correctness_local.py OUT_JSON
"""
import datetime, json, os, subprocess, sys, time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from pink_spider_spark import queries as Q
from pink_spider_spark.session import get_spark

sys.path.insert(0, os.path.join(ROOT, "scripts"))
from verify_oracle import compare_query, open_oracle

if len(sys.argv) != 2:
    sys.exit(__doc__)
out_path = sys.argv[1]

spark = get_spark(app_name="gen-correctness")
out = {}
counts = {}
for sf, sf_dir in (("0.01", "/root/testdata/sf0.01"),
                   ("0.1", "/root/testdata/sf0.1")):
    con = open_oracle(sf_dir)
    n_ok = 0
    for name in Q.QUERY_BUILDERS:
        t0 = time.time()
        rows, problems = compare_query(spark, con, name, sf_dir)
        ok = problems == []
        n_ok += ok
        out.setdefault(name, {})[sf] = {
            "hash_match": ok, "rows": rows,
            "secs": round(time.time() - t0, 1)}
        print(f"{sf} {name}: {'ok' if ok else 'FAIL'}"
              + (f" {'; '.join(problems)}" if problems else ""), flush=True)
    counts[sf] = n_ok
    con.close()

rev = subprocess.check_output(["git", "rev-parse", "--short", "HEAD"],
                              cwd=ROOT).decode().strip()
doc = {"engine_rev": rev,
       "generated": datetime.datetime.now(datetime.timezone.utc)
       .strftime("%Y-%m-%d %H:%M UTC")
       + " local verify_oracle.compare_query (dual canon)",
       "hash_match_sf0.01": counts["0.01"],
       "hash_match_sf0.1": counts["0.1"],
       "queries": dict(sorted(out.items())),
       "queries_total": len(Q.QUERY_BUILDERS)}
with open(out_path, "w") as f:
    json.dump(doc, f, indent=1, sort_keys=False)
print("TOTALS", counts, "of", len(Q.QUERY_BUILDERS))
spark.stop()
