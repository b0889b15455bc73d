import time

import run
from compare import compare, stamp_mismatch

LOG = """\
26/10/17 03:24:00 WARN SparkStringUtils: Truncated the string representation of a plan.
26/10/17 03:24:05 WARN DAGScheduler: Failed to update accumulator 12 for task 3
java.lang.UnsupportedOperationException: boom
\tat org.apache.spark.scheduler.DAGScheduler.updateAccumulators(DAGScheduler.scala:1)
\tat org.apache.spark.scheduler.DAGScheduler.handleTaskCompletion(DAGScheduler.scala:2)
26/10/17 03:24:09 ERROR Executor: Exception in task 0.0
org.apache.spark.SparkException: bad
\tat org.apache.spark.executor.Executor.run(Executor.scala:3)
Caused by: java.io.IOException: disk
\tat java.io.File.x(File.java:4)
some unrelated stdout line
"""


def test_stderr_traces_keep_entries_with_stacks():
    traces = run.stderr_traces(LOG)
    assert [(t["level"], t["logger"], t["frames"]) for t in traces] == [
        ("WARN", "DAGScheduler", 2),
        ("ERROR", "Executor", 2),
    ]


def test_traces_attributed_to_innermost_open_span():
    t0 = time.mktime(time.strptime("26/10/17 03:24:00", "%y/%m/%d %H:%M:%S"))
    spans = [
        {"name": "pass", "start": t0, "end": t0 + 20},
        {"name": "storage.write_day", "start": t0 + 4.5, "end": t0 + 6},
    ]
    traces = run.attribute(run.stderr_traces(LOG), spans)
    assert [t["span"] for t in traces] == ["storage.write_day", "pass"]


def _result(workload, seed, value, **stamp):
    base = {"workload": workload, "seed": seed, "nproc": 4, "spark": "4.1.2",
            "commit": "a", "source_digest": "x"}
    base.update(stamp)
    return {"stamp": base, "end_to_end": {"pass_s": {"value": value, "unit": "s"}}}


def test_compare_refuses_pairs_with_different_environments():
    parent = {("w", s): _result("w", s, 10.0) for s in range(10)}
    change = {("w", s): _result("w", s, 9.0, commit="b", source_digest="y") for s in range(10)}
    out = compare(parent, change)
    assert out["w"]["pass_s"]["outcome"] == "win"
    change[("w", 3)]["stamp"]["nproc"] = 8
    assert stamp_mismatch(parent[("w", 3)]["stamp"], change[("w", 3)]["stamp"]) == ["nproc"]
    try:
        compare(parent, change)
    except SystemExit as e:
        assert "nproc" in str(e)
    else:
        raise AssertionError("a pair with different stamps was compared")
