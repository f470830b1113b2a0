"""Pin the scaling report's arithmetic on synthetic history rows.

``scripts/scaling_bench.py`` reads ``BENCH/history.jsonl`` through one
reader and one report function for both ``ladder`` and ``report``; these
tests need no Spark.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from scaling_bench import format_report, read_history, scaling_report  # noqa: E402


def _row(cpus, ups, cap, mode="at_scale", rev="r1", ex=None):
    r = {"mode": mode, "cpus": cpus, "pages": 1000, "weight": 4,
         "urls_per_sec": ups, "seconds": 10.0, "host_capacity": cap,
         "rev": rev}
    if ex is not None:
        r["extract_urls_per_sec"] = ex
    return r


# file order: three interleaved at-scale 2->8 pairs, a default-mode pair
# between them whose 8-core run would be the best of all if modes mixed,
# and a line cut short mid-write
HISTORY = [
    _row(2, 100.0, 2000.0, ex=200.0),
    _row(8, 360.0, 8000.0, ex=800.0),
    _row(2, 50.0, 1000.0, mode="default"),
    _row(8, 1000.0, 4000.0, mode="default"),
    _row(2, 110.0, 2200.0, ex=210.0),
    '{"mode": "at_scale", "cpus": 8, "pages": 10',
    _row(8, 484.0, 11000.0, ex=900.0),
    _row(2, 120.0, 2000.0, rev="r2"),
    _row(8, 480.0, 8000.0, rev="r2"),
]
LINES = [r if isinstance(r, str) else json.dumps(r) for r in HISTORY]


def _group(groups, mode):
    (g,) = [g for g in groups if g["mode"] == mode]
    return g


def test_garbled_line_skipped_and_rev_filter():
    assert len(read_history(LINES)) == 8
    assert len(read_history(LINES, {"r1"})) == 6
    assert len(read_history(LINES, {"r2"})) == 2
    assert read_history(["not json", "", "{}"]) == []


def test_modes_never_mix():
    groups = scaling_report(read_history(LINES, {"r1"}))
    assert sorted(g["mode"] for g in groups) == ["at_scale", "default"]
    at, de = _group(groups, "at_scale"), _group(groups, "default")
    assert at["runs"] == 4 and de["runs"] == 2
    assert at["best"][8]["urls_per_sec"] == 484.0
    assert de["best"][8]["urls_per_sec"] == 1000.0
    assert len(at["pairs"][(2, 8)]["matched"]) == 2
    assert len(de["pairs"][(2, 8)]["matched"]) == 1
    assert de["pairs"][(2, 8)]["best_of"]["pipeline"] == pytest.approx(5.0)


def test_best_of_pairs_median_and_engine_relative():
    rows = read_history(LINES)
    at = _group(scaling_report(rows), "at_scale")
    assert at["runs"] == 6
    assert {c: r["urls_per_sec"] for c, r in at["best"].items()} == {
        2: 120.0, 8: 484.0}
    p = at["pairs"][(2, 8)]
    # best-of: best 8-core run over best 2-core run, each with its own
    # window's probe
    assert p["best_of"]["pipeline"] == pytest.approx(484 / 120 / 4)
    assert p["best_of"]["hardware"] == pytest.approx(11000 / 2000 / 4)
    # window-matched: the i-th 2-core row with the i-th 8-core row
    pipe = [e["pipeline"] for e in p["matched"]]
    hw = [e["hardware"] for e in p["matched"]]
    assert pipe == pytest.approx([0.9, 1.1, 1.0])
    assert hw == pytest.approx([1.0, 1.25, 1.0])
    assert [e["engine_relative"] for e in p["matched"]] == pytest.approx(
        [0.9, 0.88, 1.0])
    # r2 rows carry no extract probe: those pairs drop out of its median
    assert [e["extract"] for e in p["matched"]] == pytest.approx(
        [1.0, 900 / 210 / 4, None])
    assert p["median"]["pipeline"] == pytest.approx(1.0)
    assert p["median"]["engine_relative"] == pytest.approx(0.9)
    assert p["median"]["extract"] == pytest.approx((1.0 + 900 / 210 / 4) / 2)


def test_levels_without_4x_partner_have_no_pair():
    rows = [_row(2, 100.0, 2000.0), _row(4, 190.0, 4000.0)]
    (g,) = scaling_report(rows)
    assert g["pairs"] == {}
    assert "local[4]" in format_report([g])


def test_format_report_tables():
    text = format_report(scaling_report(read_history(LINES, {"r1"})))
    assert "## at_scale · 1000 pages · weight 4 — 4 runs" in text
    assert "## default · 1000 pages · weight 4 — 2 runs" in text
    assert "| local[2]→local[8] | **median** | 1.000 | " in text
    assert "| local[2]→local[8] | pair 0 | 5.000 | — | 1.000 | 5.000 |" \
        in text


def test_committed_history_headline():
    """The round-5 headline (README, BENCH/BASELINE.md) from the
    committed history: 2->8 at-scale pairs at rev 4f251b8."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH", "history.jsonl")) as f:
        (g,) = scaling_report(read_history(f, {"4f251b8"}))
    assert (g["mode"], g["pages"], g["weight"], g["runs"]) == (
        "at_scale", 120000, 64, 6)
    p = g["pairs"][(2, 8)]
    assert round(p["best_of"]["pipeline"], 3) == 1.011
    assert [round(e["pipeline"], 3) for e in p["matched"]] == [
        1.028, 1.036, 1.011]
    assert round(p["median"]["pipeline"], 3) == 1.028
    assert round(p["median"]["engine_relative"], 3) == 0.976
