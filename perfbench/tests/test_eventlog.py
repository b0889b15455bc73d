from pathlib import Path

import pytest

import eventlog

FIXTURE = Path(__file__).parent / "fixtures" / "tiny_eventlog.jsonl"


@pytest.fixture(scope="module")
def log():
    return eventlog.read(str(FIXTURE))


def test_jobs_and_stage_ownership(log):
    assert {j: v["group"] for j, v in log.jobs.items()} == {0: "g1", 1: "g2"}
    # stage 1 is listed by both jobs; it belongs to the job that ran it first
    assert log.stage_job == {0: 0, 1: 0, 2: 1}
    assert log.jobs[1]["submit"] == pytest.approx(1001.5)


def test_aggregate_per_group(log):
    g1 = eventlog.aggregate(log, {"g1"})
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (1, 2, 2)
    assert g1["task_s"] == pytest.approx(0.9)
    assert g1["gc_s"] == pytest.approx(0.01)
    assert g1["shuffle_mb"] == pytest.approx(1.0)  # bytes written, not read
    assert g1["spill_mb"] == pytest.approx(2.0)
    assert g1["files_written"] == 0

    g2 = eventlog.aggregate(log, {"g2"})
    assert (g2["jobs"], g2["stages"], g2["tasks"]) == (1, 1, 1)
    assert g2["out_bytes"] == 300
    assert g2["files_written"] == 3  # from the driver-side SQL metric
    assert any("MapInPandas" in p for p in g2["sql_plans"])

    assert eventlog.aggregate(log, {"nobody"})["jobs"] == 0


def test_window_driver_only_and_core_util(log):
    w = eventlog.window(log, 1000.0, 1003.0, cores=2)
    assert (w["jobs"], w["stages"], w["tasks"]) == (2, 3, 3)
    # tasks cover [1000.1, 1001.0] and [1002.0, 1002.5]: 1.4 s busy of 3 s
    assert w["driver_only_s"] == pytest.approx(1.6)
    assert w["core_util"] == pytest.approx(1.4 / (2 * 3.0))
    # a window that starts later sees only the last task
    assert eventlog.window(log, 1001.8, 1003.0, cores=2)["tasks"] == 1
