import os
import shutil

import pytest

from perfbench.trace import Tracer, event_log_files, parse_event_log, self_times

DATA = os.path.join(os.path.dirname(__file__), "data", "events_small.jsonl")


def test_parse_recorded_log_attributes_by_job_group():
    # recorded from local[2]: group g1 ran a mapInArrow job and an
    # aggregate over it (one of its stages skipped), g2 two SQL jobs
    groups = parse_event_log(DATA)
    assert set(groups) == {"g1", "g2"}
    g1, g2 = groups["g1"], groups["g2"]
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (2, 2, 3)
    assert (g2["jobs"], g2["stages"], g2["tasks"]) == (2, 2, 3)
    assert g1["python_start_s"] == pytest.approx(1.592 + 1.603)
    assert g1["python_init_s"] == pytest.approx(0.661 + 0.628)
    assert g1["python_run_s"] == pytest.approx(2.254 + 2.232)
    assert g2["python_run_s"] == 0
    assert g1["shuffle_write_bytes"] == g1["shuffle_read_bytes"] > 0
    assert g1["executor_cpu_s"] < g1["executor_run_s"]


def test_rolling_log_directory_is_read_in_part_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = open(DATA).read().splitlines(keepends=True)
    (app / "events_2_local-1").write_text("".join(lines[7:]))
    (app / "events_10_local-1").write_text("")
    (app / "events_1_local-1").write_text("".join(lines[:7]))
    (app / "appstatus_local-1").write_text("")
    files = event_log_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1"]
    assert parse_event_log(files) == parse_event_log(DATA)
    plain = tmp_path / "plain"
    plain.mkdir()
    shutil.copy(DATA, plain / "local-2")
    (plain / "local-3.inprogress").write_text("")
    assert event_log_files(str(plain)) == [str(plain / "local-2")]


def test_stage_ids_restart_with_each_application(tmp_path):
    # a second application reuses stage ids 0..n for its own, untagged jobs
    start = '{"Event": "SparkListenerApplicationStart"}\n'
    body = open(DATA).read()
    untagged = body.replace('"spark.jobGroup.id": "g1", ', "").replace(
        '"spark.jobGroup.id": "g2", ', "")
    log = tmp_path / "two-apps"
    log.write_text(start + body + start + untagged)
    groups = parse_event_log(str(log))
    assert groups["g1"] == parse_event_log(DATA)["g1"]
    assert groups[None]["tasks"] == 6 and groups[None]["jobs"] == 4


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        {"id": 0, "parent": None, "layer": "a", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "layer": "b", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "layer": "b", "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 0, "layer": "c", "start": 8.0, "end": 12.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)  # [1,5] and [8,10] covered
    assert st[1] == pytest.approx(3)
    assert st[3] == pytest.approx(4)


def test_tracer_nests_spans_without_a_session():
    tr = Tracer()
    with tr.span("outer", "x", rows=3) as outer:
        with tr.span("inner", "y"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, outer["id"]]
    assert outer["counts"] == {"rows": 3}
    inner = tr.spans[1]
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
