"""Benchmark entry point: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It starts ``perfbench/workloads.py``
as a subprocess (its own JVM and Python driver), with the checkout
root on the Python workers' import path and every scratch file under
``.perfbench/`` in the checkout. The subprocess's stderr is captured;
WARN/ERROR stack traces found there are attributed to the span that
was open when they were logged. The last line on stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The full record (environment stamp, details, spans)
is kept in ``.perfbench/results/`` for ``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "jobinsight_data_pipeline_v2_spark"
WORKLOADS = ("etl_daily", "gates_small")
TIMEOUT_S = 170

# log4j's default console layout: "yy/MM/dd HH:mm:ss LEVEL logger: message"
LOG_LINE = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d) (WARN|ERROR) (\S+): (.*)$")
# lines that continue a logged stack trace
TRACE_LINE = re.compile(r"^(\s|Caused by|Suppressed|[\w$.]+(Exception|Error|Throwable)\b)")


def stderr_traces(text: str) -> list[dict]:
    """WARN/ERROR log entries followed by a stack trace."""
    out, cur = [], None
    for line in text.splitlines():
        m = LOG_LINE.match(line)
        if m:
            cur = {
                "time": time.mktime(time.strptime(m.group(1), "%y/%m/%d %H:%M:%S")),
                "level": m.group(2),
                "logger": m.group(3),
                "message": m.group(4)[:300],
                "frames": 0,
            }
            out.append(cur)
        elif cur is not None and TRACE_LINE.match(line):
            cur["frames"] += line.lstrip().startswith("at ")
        else:
            cur = None
    return [t for t in out if t["frames"]]


def attribute(traces: list[dict], spans: list[dict]) -> list[dict]:
    """Name the innermost span open when each trace was logged (the log
    has one-second resolution, so spans are widened by a second)."""
    for t in traces:
        open_spans = [s for s in spans if s["start"] - 1 <= t["time"] <= s["end"] + 1]
        inner = min(open_spans, key=lambda s: s["end"] - s["start"], default=None)
        t["span"] = inner["name"] if inner else None
    return traces


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def reap_group(pgid: int, grace_s: float) -> None:
    """Let the process group exit on its own for ``grace_s``, then kill
    what is left and wait (bounded) until it is gone."""
    deadline = time.monotonic() + grace_s
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
        deadline = time.monotonic() + 5
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def worker_env(work: Path) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p
    )
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env["PYSPARK_PYTHON"] = sys.executable
    for name in ("local", "tmp"):
        (work / name).mkdir(parents=True, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    env["TMPDIR"] = str(work / "tmp")
    # keep the JVMs' scratch files (and their /tmp perf data) in the
    # checkout; a fixed-size driver heap keeps the JVM's adaptive heap
    # sizing, and the GC work that follows from it, out of the figures
    env["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{env['SPARK_GRAFT_DRIVER_MEM']}"
    )
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "tools" / "gen_testdata.py").is_file():
        print(f"run.py: {ROOT} is not a checkout of the repository "
              f"({PACKAGE}/ and tools/ are missing)", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = base / "runs" / f"{tag}-{os.getpid()}"
    results = base / "results"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    out_path, log_path = work / "result.json", results / f"{tag}.stderr.log"
    cmd = [
        sys.executable, str(HERE / "workloads.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--out", str(out_path),
    ]
    # a terminated runner still kills and reaps the workload (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w", encoding="utf-8") as log:
        proc = subprocess.Popen(
            cmd, cwd=work, env=worker_env(work), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        code = None
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # the JVM and the Python workers share the worker's process
            # group and may still be shutting down
            reap_group(proc.pid, grace_s=0 if code is None else 15)
            proc.wait()
    if code != 0 or not out_path.exists():
        why = "timed out" if code is None else f"exited with {code}"
        print(f"run.py: workload {why}; log in {log_path}", file=sys.stderr)
        with open(log_path, encoding="utf-8", errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 1

    result = json.loads(out_path.read_text())
    traces = attribute(
        stderr_traces(log_path.read_text(encoding="utf-8", errors="replace")),
        result.get("spans", []),
    )
    result["stderr_traces"] = traces
    if args.trace:
        result["per_layer"]["spark.stderr_traces"] = {"value": len(traces), "unit": "count"}
    (results / f"{tag}.json").write_text(json.dumps(result, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    metrics = result["per_layer"] if args.trace else result["end_to_end"]
    if result["problems"]:
        print("problems: " + "; ".join(result["problems"][:10]), file=sys.stderr)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
