"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row count, column names, and an order-insensitive value hash.

Two canonicalization paths, BOTH must match (round-5 hardening — the r4
driver found two defects this harness's fetchall path could not see):

1. fetchall canon — Python-object rows via cursor.fetchall(), cells
   normalized with str()/repr(round(f, 9)).  The row-value truth.
2. pandas canon (the DRIVER's path) — Spark via toPandas(), DuckDB via
   fetch_df(); columns sorted by name, rows via DataFrame.sort_values
   over all columns, cells rendered per-DTYPE.  This is where DuckDB's
   HUGEINT (uncast windowed SUM of BIGINT) degrades to float64 and
   renders "32.0" against Spark's "32", and where an array-typed output
   column makes sort_values throw "unhashable type: 'list'" — exactly
   the two r4 driver-red failure modes, now reproduced locally.

Usage: python scripts/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize_cell(v):
    import datetime
    import math
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(normalize_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def pandas_canon_hash(pdf):
    """Driver-path canonicalization: sort columns by name, sort rows
    with DataFrame.sort_values over ALL columns (throws on unhashable
    cells — lists/arrays — like the driver's factorize does), then
    render each cell per column DTYPE so an int64 column and a float64
    column of equal values hash DIFFERENTLY ("32" vs "32.0"), matching
    the driver's behavior on DuckDB HUGEINT→float64 degradation."""
    import numpy as np
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    pdf = pdf.reset_index(drop=True)
    rendered = []
    for c in pdf.columns:
        col = pdf[c]
        if pd.api.types.is_float_dtype(col):
            s = col.map(lambda v: "NULL" if pd.isna(v)
                        else repr(round(float(v), 9)))
        elif pd.api.types.is_integer_dtype(col):
            s = col.map(lambda v: str(int(v)))
        elif pd.api.types.is_datetime64_any_dtype(col):
            s = col.map(lambda v: "NULL" if pd.isna(v)
                        else pd.Timestamp(v).isoformat())
        elif pd.api.types.is_bool_dtype(col):
            s = col.map(lambda v: str(bool(v)))
        else:
            def _obj(v):
                import datetime
                if v is None or (np.isscalar(v) and pd.isna(v)):
                    return "NULL"
                if isinstance(v, float):
                    return repr(round(v, 9))
                if isinstance(v, (int, np.integer)):
                    return str(int(v))
                if isinstance(v, datetime.datetime):
                    return v.isoformat()
                if isinstance(v, datetime.date):
                    # normalize bare dates to midnight so a date column
                    # and a datetime64-midnight column render alike
                    return datetime.datetime(v.year, v.month,
                                             v.day).isoformat()
                return str(v)
            s = col.map(_obj)
        rendered.append(s.tolist())
    h = hashlib.sha256()
    for row in zip(*rendered) if rendered else ():
        h.update("\x1f".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def open_oracle(sf_dir):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare_query(spark, con, name, sf_dir):
    """Run query ``name`` on Spark and its oracle on ``con``; return
    (rows, problems): the Spark row count (None when Spark failed) and
    the list of mismatches under both canons, empty on a match, or None
    when the query has no oracle (rows-only)."""
    from pink_spider_spark import queries as Q

    try:
        sdf = Q.QUERY_BUILDERS[name](spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
    except Exception as e:
        return None, [f"spark error: {e}"]
    oracle = Q.ORACLES.get(name)
    if oracle is None:
        return len(srows), None
    try:
        cur = con.execute(oracle)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
    except Exception as e:
        return len(srows), [f"duckdb error: {str(e)[:200]}"]
    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        return len(srows), problems
    sh = value_hash([tuple(r) for r in srows], scols)
    oh = value_hash(orows, ocols)
    if sh != oh:
        problems.append(f"value hash spark={sh} duck={oh}")
    # driver-path pandas canon twin (see module docstring)
    import pandas as pd
    try:
        spdf = pd.DataFrame.from_records(
            [tuple(r) for r in srows], columns=scols)
        opdf = con.execute(oracle).fetch_df()
        sph = pandas_canon_hash(spdf)
        oph = pandas_canon_hash(opdf)
        if sph != oph:
            sdt = {c: str(spdf[c].dtype) for c in spdf.columns}
            odt = {c: str(opdf[c].dtype) for c in opdf.columns}
            problems.append(
                f"pandas-canon hash spark={sph} duck={oph} "
                f"(dtypes spark={sdt} duck={odt})")
    except TypeError as e:
        problems.append(f"pandas-canon unhashable schema: {e}")
    return len(srows), problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pink_spider_spark import queries as Q
    from pink_spider_spark.session import get_spark

    if only - set(Q.QUERY_BUILDERS):
        sys.exit(f"unknown queries: {sorted(only - set(Q.QUERY_BUILDERS))}")
    names = [n for n in Q.QUERY_BUILDERS if not only or n in only]
    spark = get_spark(app_name="verify-oracle")
    con = open_oracle(sf_dir)

    failures = []
    for name in names:
        t0 = time.time()
        rows, problems = compare_query(spark, con, name, sf_dir)
        secs = f"[{time.time()-t0:.1f}s]"
        if problems is None:
            print(f"ok   {name}: rows={rows} (rows-only, no oracle) {secs}")
            if rows == 0:
                print(f"WARN {name}: zero rows")
        elif problems:
            print(f"FAIL {name}: {'; '.join(problems)} {secs}")
            failures.append(name)
        else:
            print(f"ok   {name}: rows={rows} hash match {secs}")

    print(f"\n{len(names) - len(failures)}/{len(names)} pass")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
