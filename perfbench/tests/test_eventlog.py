"""Event-log rollup (job group -> per-layer task metrics) and span tests.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from eventlog import log_files, read_events, rollup, rollup_dir  # noqa: E402
from harness import Tracer  # noqa: E402

FIXTURE = HERE / "fixtures" / "eventlog_small.jsonl"


def test_fixture_rolls_up_per_job_group():
    r = rollup(read_events(FIXTURE))
    assert set(r) == {"layer.a", "layer.b", "<none>"}
    a, b, none = r["layer.a"], r["layer.b"], r["<none>"]
    # layer.a: one job, a 2-task map stage + a 2-task reduce stage
    assert (a["jobs"], a["tasks"], a["failed_tasks"]) == (1, 4, 0)
    assert a["task_run_s"] == pytest.approx((212 + 208 + 90 + 88) / 1e3)
    assert a["shuffle_write_bytes"] == 364
    # skew is read on the heaviest stage (the map stage): 212 / median(212, 208)
    assert a["task_skew"] == pytest.approx(212 / 210)
    # layer.b: its second task failed
    assert (b["jobs"], b["tasks"], b["failed_tasks"]) == (1, 2, 1)
    assert b["shuffle_write_bytes"] == 0
    assert (none["jobs"], none["tasks"], none["task_skew"]) == (1, 1, 1.0)
    total_tasks = sum(1 for e in read_events(FIXTURE) if e["Event"] == "SparkListenerTaskEnd")
    assert sum(m["tasks"] for m in r.values()) == total_tasks


def _task(stage, run_ms, reason="Success"):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": reason}, "Task Info": {},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                             "Disk Bytes Spilled": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 1}}}


def test_stage_goes_to_the_group_that_submitted_it():
    # job 1 (group g2) lists stage 0 but only skips it: g1 ran its tasks
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "g1"}},
        _task(0, 100), _task(0, 300), _task(0, 100),
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g2"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "g2"}},
        _task(1, 50, reason="TaskKilled"),
    ]
    r = rollup(events)
    assert r["g1"]["tasks"] == 3 and r["g2"]["tasks"] == 1
    assert r["g1"]["task_skew"] == pytest.approx(3.0)
    assert r["g1"]["spill_bytes"] == 15
    assert r["g1"]["task_cpu_s"] == pytest.approx(0.5)
    assert r["g2"]["failed_tasks"] == 1 and r["g2"]["jobs"] == 1


def test_log_files_plain_and_rolling(tmp_path):
    plain = tmp_path / "plain"
    plain.mkdir()
    shutil.copy(FIXTURE, plain / "local-1")
    (plain / "local-0.inprogress").write_text("")
    assert log_files(plain) == [plain / "local-1"]

    rolling = tmp_path / "rolling"
    app = rolling / "eventlog_v2_local-1"
    app.mkdir(parents=True)
    lines = FIXTURE.read_text().splitlines(keepends=True)
    (app / "events_10_local-1").write_text("".join(lines[7:]))
    (app / "events_2_local-1").write_text("".join(lines[:7]))
    (app / "appstatus_local-1").write_text("")
    assert [p.name for p in log_files(rolling)] == ["events_2_local-1", "events_10_local-1"]
    assert rollup_dir(rolling) == rollup(read_events(FIXTURE))

    (rolling / "eventlog_v2_local-2").mkdir()
    with pytest.raises(RuntimeError):
        log_files(rolling)


class _FakeSc:
    def __init__(self):
        self.props = {}
        self.calls = []

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid
        self.calls.append(gid)

    def setLocalProperty(self, k, v):
        self.props[k] = v


def test_spans_tag_and_restore_job_groups():
    sc = _FakeSc()
    tr = Tracer(sc, enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            assert sc.props["spark.jobGroup.id"] == "inner"
        assert sc.props["spark.jobGroup.id"] == "outer"
    assert sc.props["spark.jobGroup.id"] is None
    assert [s["parent"] for s in tr.spans] == [None, "outer"]
    selfs = tr.self_times("outer")
    outer, inner = tr.spans
    assert selfs["inner"] == pytest.approx(inner["end"] - inner["start"])
    assert selfs["outer"] + selfs["inner"] == pytest.approx(outer["end"] - outer["start"])


def test_disabled_tracer_records_nothing():
    tr = Tracer(None, enabled=False)
    with tr.span("x"):
        tr.count("n", 3)
    assert tr.spans == [] and tr.counts == {}


def test_fixture_is_valid_json_lines():
    for line in FIXTURE.read_text().splitlines():
        json.loads(line)
