"""The event-log reader on a tiny recorded Spark 4.1 log.

The log holds four jobs: one under job group ``layer.a`` (one stage, two
tasks), two under ``layer.b`` (three tasks, 118 shuffle bytes) and one
with no group, submitted at 1792191464.410 s."""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data",
                   "eventlog_v2_local-tiny")
SPANS = [("layer.a", 1792191462.0, 1792191463.4),
         ("layer.b", 1792191463.5, 1792191464.3)]


def test_group_attribution():
    stats = eventlog.layer_stats(eventlog.read_events(LOG), SPANS)
    a, b = stats["layer.a"], stats["layer.b"]
    assert (a["jobs"], a["tasks"]) == (1, 2)
    assert a["executor_cpu_s"] == pytest.approx(0.386816695)
    assert a["task_skew"] == pytest.approx(651 / 626)
    assert (b["jobs"], b["tasks"], b["shuffle_write_bytes"]) == (2, 3, 118)
    assert b["task_skew"] == pytest.approx(199 / 197)
    assert b["gc_s"] == 0 and b["spill_bytes"] == 0
    # the ungrouped job falls in no span
    assert stats["unattributed"]["jobs"] == 1


def test_ungrouped_job_attributed_by_time_window():
    spans = SPANS + [("layer.c", 1792191464.3, 1792191464.6)]
    stats = eventlog.layer_stats(eventlog.read_events(LOG), spans)
    assert "unattributed" not in stats
    assert (stats["layer.c"]["jobs"], stats["layer.c"]["tasks"]) == (1, 1)
    assert stats["layer.c"]["task_skew"] == 1.0


def test_total_and_log_discovery(tmp_path):
    stats = eventlog.layer_stats(eventlog.read_events(LOG), SPANS)
    both = eventlog.total(stats, ["layer.a", "layer.b", "missing"])
    assert (both["jobs"], both["tasks"]) == (3, 5)
    assert both["task_skew"] == pytest.approx(651 / 626)
    assert eventlog.find_log(os.path.dirname(LOG)) == LOG
    (tmp_path / "eventlog_v2_x").mkdir()
    (tmp_path / "eventlog_v2_x" / "events_1_x.zstd").write_bytes(b"")
    with pytest.raises(ValueError):
        eventlog.event_files(str(tmp_path / "eventlog_v2_x"))
