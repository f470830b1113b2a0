"""Physical-plan audit: every registered query compiles to the plan it
was designed for.

Each query's formatted plan must contain the patterns its ``@q(must=...)``
names (filter/column pushdown into the parquet scan, broadcast joins on
dimension sides, global top-k) and none of its ``must_not`` patterns.
No plan may hold a CartesianProduct unless its ``must`` names it.
"""

import io
import os
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from pink_spider_spark.operators import relational as R
from pink_spider_spark.queries import PLAN_CHECKS, QUERY_BUILDERS

SF_DIR = "/root/testdata/sf0.01"


def _assert_plan(df, must, must_not):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    probs = [f"missing: {m}" for m in must if m not in plan]
    probs += [f"present: {m}" for m in must_not if m in plan]
    assert not probs, "; ".join(probs) + "\n" + plan[:4000]


@pytest.mark.parametrize("name", list(QUERY_BUILDERS))
def test_plan_as_designed(spark, name):
    must, must_not = PLAN_CHECKS[name]
    if "CartesianProduct" not in must:
        must_not += ("CartesianProduct",)
    _assert_plan(QUERY_BUILDERS[name](spark, SF_DIR), must, must_not)


def test_paginate_routed_offset(spark):
    """paginate routed above the window threshold: the offset page
    compiles to a global top-k with no window operator at all."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    df = R.paginate(orders, [F.desc("o_orderdate"), F.asc("o_orderkey")],
                    page=2, per_page=25, window_threshold=0)
    _assert_plan(df, ["TakeOrderedAndProject"], ["Window"])


def test_readme_query_count():
    path = os.path.join(os.path.dirname(__file__), os.pardir, "README.md")
    with open(path) as f:
        claimed = re.search(r"\*\*(\d+) oracle queries\*\*", f.read())
    assert int(claimed.group(1)) == len(QUERY_BUILDERS)
