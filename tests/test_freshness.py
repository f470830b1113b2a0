"""Freshness-driven recrawl scheduling (crawl/freshness.py) —
hand-computed Cho & Garcia-Molina estimator pins."""

import datetime as dt
import math

from pink_spider_spark.crawl import freshness as FR
from tests.spark_fixtures import spark_vs_oracle

US_DAY = 86_400_000_000


def _ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def _lam_py(n, x, span_us):
    i_days = (span_us / 86400000000.0) / (n - 1.0)
    return -math.log(((n - x) + 0.5) / (n + 0.5)) / i_days


def test_change_rate_hand_values(spark):
    # url A: 3 visits over 2 days, 1 change; url B: 2 visits, 0 changes
    rows = [("A", _ts(1), False), ("A", _ts(2), True), ("A", _ts(3), False),
            ("B", _ts(1), False), ("B", _ts(5), False),
            ("solo", _ts(1), True)]
    df = spark.createDataFrame(rows, ["url", "ts", "changed"])
    got = {r.url: r for r in FR.change_rate(df, ["url"]).collect()}
    assert set(got) == {"A", "B"}  # <2 observations -> dropped
    assert (got["A"].n_obs, got["A"].n_changes) == (3, 1)
    assert got["A"].lambda_per_day == _lam_py(3, 1, 2 * US_DAY)
    # zero detected changes -> ln(1) = 0 -> rate exactly 0
    assert got["B"].lambda_per_day == 0.0


def test_bias_correction_exceeds_naive_for_fast_changers(spark):
    # every visit saw a change: the naive X/span estimate is 1/day; the
    # corrected estimator knows multiple changes can hide per interval
    # and reads strictly higher
    rows = [("hot", _ts(d), True) for d in range(1, 6)]
    df = spark.createDataFrame(rows, ["url", "ts", "changed"])
    lam = FR.change_rate(df, ["url"]).collect()[0].lambda_per_day
    assert lam > 1.0
    assert lam == _lam_py(5, 5, 4 * US_DAY)


def test_staleness_monotone_in_age_and_rate(spark):
    rows = [("fast", _ts(1), True), ("fast", _ts(2), True),
            ("slow", _ts(1), False), ("slow", _ts(2), True),
            ("old", _ts(1, 0), True), ("old", _ts(1, 12), True)]
    df = spark.createDataFrame(rows, ["url", "ts", "changed"])
    now = int(dt.datetime(2024, 1, 10).timestamp() * 1_000_000)
    got = {r.url: r.staleness
           for r in FR.staleness(FR.change_rate(df, ["url"]), now).collect()}
    assert 0.0 < got["slow"] < got["fast"] < 1.0  # rate monotone
    assert got["old"] > got["fast"]  # same rate shape, 8x the age
    # exact pin for one key
    lam = _lam_py(2, 2, US_DAY)
    age = (now - int(_ts(2).timestamp() * 1_000_000)) / 86400000000.0
    assert got["fast"] == 1.0 - math.exp(-(lam * age))


def test_with_freshness_priority_join_contract(spark):
    hist = spark.createDataFrame(
        [("http://a/x", _ts(1), True), ("http://a/x", _ts(2), True)],
        ["url", "ts", "changed"])
    frontier = spark.createDataFrame(
        [("http://a/x", 7), ("http://new/never-seen", 7)],
        ["url", "priority"])
    now = int(dt.datetime(2024, 1, 4).timestamp() * 1_000_000)
    got = {r.url: r.priority
           for r in FR.with_freshness_priority(frontier, hist, now)
           .collect()}
    lam = _lam_py(2, 2, US_DAY)
    expected = int((1.0 - math.exp(-(lam * 2.0))) * 1_000_000)
    assert got["http://a/x"] == expected
    assert got["http://new/never-seen"] == 0  # no history -> discovery rank


def test_zero_span_key_matches_oracle(spark, tmp_path):
    # user 1's observations all share one timestamp: the unguarded
    # λ̂ = x / 0 fails the Spark job (ANSI DIVIDE_BY_ZERO) and is NULL or
    # inf/NaN in DuckDB; both engines drop the key, so it keeps priority 0
    events = ("SELECT u AS user_id, t AS ts, e AS event_type FROM (VALUES "
              "(1, TIMESTAMP '2024-01-01', 'view'), "
              "(1, TIMESTAMP '2024-01-01', 'click'), "
              "(1, TIMESTAMP '2024-01-01', 'click'), "
              "(2, TIMESTAMP '2024-01-01', 'view'), "
              "(2, TIMESTAMP '2024-01-03', 'click')) v(u, t, e)")
    rows = {}
    for name in ("frontier_freshness_priority", "events_recrawl_priority"):
        got, want = spark_vs_oracle(spark, tmp_path, name, events)
        assert got == want
        rows[name] = got
    assert ("https://u1.example/feed", 0) in rows[
        "frontier_freshness_priority"]
    assert [r[0] for r in rows["events_recrawl_priority"]] == [2]
