"""One benchmark run of one workload, in this process and its own JVM.

``run.py`` starts this file as a fresh subprocess for every run and
reads the JSON it writes to ``--out``. Workloads (closed loop, one
client, ``local[SPARK_GRAFT_CPUS]``):

- ``etl_daily``: the first daily batch cycle of a fresh application
  over a seeded synthetic TopCV crawl (parse -> quality gates ->
  staging -> SCD2 star schema -> views), then one dashboard refresh
  that drains every business and monitoring view.
- ``gates_small``: registry gates over a tier made by
  ``tools/gen_testdata.py`` from the seed, each built and collected to
  pandas.

Untraced runs (``--trace 0``) time passes with nothing wrapped until
``--seconds`` have passed (at least one pass). Traced runs
(``--trace 1``) time one pass, the same first pass, with spans around
each layer call and a Spark event log on, and report per-layer figures.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from datetime import datetime
from pathlib import Path

import etl_gen
import eventlog
import stats
from tracer import Tracer

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "jobinsight_data_pipeline_v2_spark"
perf = time.perf_counter

GEN_REPEATS = 3  # input generation is repeated and its median kept

ETL_PER_DAY = 2000  # postings listed in the crawl of the timed day

GATES_SF = 0.01  # scale factor of the generated gates_small tier
GATES_SMALL = [
    # light, job-overhead bound
    "events_hourly", "exact_dedup", "stratified_sample", "url_canonical_dedup",
    "pii_scrub", "cosine_topk",
    # multi-job
    "sessionize", "assoc_rules",
]  # at least one per plans module

# what register_monitoring_views puts next to the 16 business views
MONITORING_VIEWS = ("etl_metrics", "quality_metrics", "vw_etl_health", "vw_quality_health")

PLAN_MODULES = ("core", "events", "text", "vectors", "corpus", "sampling", "curation")

SELF_CHECK_PAGE = (
    '<html><body><div class="job-item-2" data-job-id="42"><h3 class="title">'
    '<a href="/viec-lam/self-check-42.html">Self check</a></h3></div></body></html>'
)


def _load_tool(name: str):
    """Import ``tools/<name>.py`` from this checkout. The package must be
    imported first: some tools prepend a fixed checkout path to
    sys.path, which is undone here so this checkout's code is used."""
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}", ROOT / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod


def drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """Counters, metrics and details of one run."""

    def __init__(self, args):
        self.args = args
        self.work = Path(args.work)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}
        self.tracer: Tracer | None = None

    def op(self, ok: bool, problem: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(problem)

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()


# --- session and environment -------------------------------------------------


def start_session(run: Run):
    from jobinsight_data_pipeline_v2_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(run.work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if run.args.trace:
        (run.work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run.work / "eventlog").as_uri(),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    t0 = perf()
    spark = get_spark(f"perfbench-{run.args.workload}", extra_conf=conf)
    return spark, perf() - t0


def self_check(spark) -> None:
    """One Arrow-edge op: Python workers must import the package."""
    from jobinsight_data_pipeline_v2_spark.sources.html_source import html_pages_to_raw_jobs

    pages = spark.createDataFrame([(SELF_CHECK_PAGE,)], "html string")
    try:
        rows = html_pages_to_raw_jobs(pages, datetime(2026, 1, 1)).collect()
    except Exception as e:  # the worker traceback arrives wrapped in a Py4J error
        if "ModuleNotFoundError" in str(e):
            raise SystemExit(
                f"self-check: Python workers cannot import {PACKAGE}; "
                "PYTHONPATH must name the checkout root"
            ) from e
        raise
    if [r["job_id"] for r in rows] != ["42"]:
        raise SystemExit(f"self-check: parse returned {rows!r}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(
        ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
        capture_output=True, text=True, check=False,
    )
    return r.stdout.strip() or None


def stamp(run: Run, spark, inputs: dict) -> dict:
    return {
        "workload": run.args.workload,
        "seed": run.args.seed,
        "run_seconds": run.args.seconds,
        "trace": run.args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "inputs": inputs,
        "commit": git_commit(),
        "source_digest": source_digest(),
    }


# --- etl_daily -----------------------------------------------------------------


def run_etl(run: Run, spark) -> None:
    from jobinsight_data_pipeline_v2_spark import pipelines
    from jobinsight_data_pipeline_v2_spark.quality.monitoring import MetricsStore
    from jobinsight_data_pipeline_v2_spark.sources.html_source import (
        blobs_to_raw_jobs,
        read_html_blobs,
        write_html_blobs,
    )
    from jobinsight_data_pipeline_v2_spark.storage import WarehouseStorage
    from jobinsight_data_pipeline_v2_spark.views import ALL_VIEWS

    Crawl = etl_gen.Crawl
    gen_s = []
    for _ in range(GEN_REPEATS):
        t = perf()
        crawl = etl_gen.generate(run.args.seed, ETL_PER_DAY, 1)
        truth = etl_gen.ground_truth(crawl)[0]
        gen_s.append(perf() - t)

    t = perf()
    data = run.work / "etl"
    capture, live = data / "capture", data / "wh"
    as_of, crawled = Crawl.as_of(0), Crawl.crawled_at(0)
    pages = spark.createDataFrame(crawl.pages[0], "page_url string, html string")
    write_html_blobs(pages, str(capture), as_of)
    phases = {"generate_median": statistics.median(gen_s), "capture": perf() - t}
    run.detail["setup_s"] = sum(phases.values())
    run.detail["setup_phases_s"] = phases

    def cycle():
        with run.span("sources.read_html_blobs", "sources"):
            blobs = read_html_blobs(spark, str(capture), as_of)
        with run.span("sources.blobs_to_raw_jobs", "sources"):
            raw = blobs_to_raw_jobs(blobs, crawled)
        with run.span("pipelines.run_day", "pipelines"):
            return pipelines.run_day(spark, storage, raw, as_of, crawled, metrics=store)

    def refresh() -> list[float]:
        times = {}
        for name in (*ALL_VIEWS, *MONITORING_VIEWS):
            t = perf()
            try:
                with run.span(f"views.drain:{name}", "views"):
                    drain(spark.table(name))
            except Exception as e:
                run.op(False, f"view {name}: {type(e).__name__}: {e}")
                continue
            times[name] = perf() - t
            run.op(True)
        run.detail.setdefault("view_times", []).append({k: round(v, 4) for k, v in times.items()})
        return list(times.values())

    def check(w, report) -> None:
        got = {
            "staging_rows": report.staging_rows,
            "fact_rows_today": report.fact_rows_today,
            "dim_job_rows": w.dim_job.count(),
            "dim_company_rows": w.dim_company.count(),
            "bridge_rows": w.bridge.count(),
            "vw_jobs_today": spark.table("vw_jobs_today").count(),
            "vw_jobs_hanoi": spark.table("vw_jobs_hanoi").count(),
            "vw_jobs_hcm": spark.table("vw_jobs_hcm").count(),
        }
        bad = [f"{k}={got[k]} want {truth[k]}" for k in truth if got[k] != truth[k]]
        gates = (report.crawl_gate.status, report.staging_gate.status)
        if gates != ("success", "success"):
            bad.append(f"gates {gates}")
        run.op(not bad, "day: " + ", ".join(bad))

    storage = WarehouseStorage(spark, str(live))
    store = MetricsStore(spark, str(live))

    def timed_pass():
        # every pass is the application's first day, on an empty warehouse
        shutil.rmtree(live, ignore_errors=True)
        t0 = perf()
        w, report = cycle()
        day_s = perf() - t0
        views = refresh()
        return perf() - t0, day_s, views, w, report

    if run.args.trace:
        # the traced pass is the same first pass an untraced run times
        run.tracer = tr = Tracer(spark)
        _patch_etl(tr, pipelines, storage, store)
        try:
            with tr.span("pass", "bench") as pass_span:
                run.detail["traced_pass_s"], _, _, w, report = timed_pass()
            check(w, report)
            with tr.span("sources.parse", "sources"):
                drain(blobs_to_raw_jobs(read_html_blobs(spark, str(capture), as_of), crawled))
        finally:
            tr.unpatch()
        stored = sum(p.stat().st_size for p in live.rglob("*") if p.is_file())
        run.detail["trace_ctx"] = {
            "pass_span": pass_span["id"],
            "postings_day": truth["staging_rows"],
            "stored_bytes_per_posting": stored / truth["staging_rows"],
        }
        return

    passes, days, refreshes, view_s = [], [], [], []
    deadline = perf() + run.args.seconds
    while True:
        p, d, v, w, report = timed_pass()
        check(w, report)
        passes.append(p)
        days.append(d)
        refreshes.append(sum(v))
        view_s += v
        if perf() >= deadline:
            break
    tail = stats.tail_percentile(len(view_s))
    run.detail.update({
        "day_s": days,
        "refresh_s": refreshes,
        "view_s_p50": statistics.median(view_s),
        "view_s_tail": {"p": tail, "s": stats.percentile(view_s, tail) if tail else None,
                        "samples": len(view_s)},
        "postings_ingested": truth["staging_rows"],
    })
    run.e2e["pass_s"] = (statistics.median(passes), "s")
    # the dashboard's unit of work is a refresh; single drains are
    # bimodal (monitoring panels vs business views), so their median
    # jumps between the two groups from run to run
    run.e2e["op_s_p50"] = (statistics.median(refreshes), "s")


def _patch_etl(tr: Tracer, pipelines, storage, store) -> None:
    """Wrap the names ``pipelines`` imports, plus the storage and
    metrics-store instance methods, at namespace/instance level."""
    for attr, layer in (
        ("ingest_day", "pipelines"),
        ("build_day", "pipelines"),
        ("crawl_validation", "quality"),
        ("staging_validation", "quality"),
        ("business_rule_violations", "quality"),
        ("evaluate_gate", "quality"),
        ("staging_transform", "warehouse"),
        ("build_warehouse_day", "warehouse"),
        ("register_views", "views"),
        ("register_monitoring_views", "views"),
    ):
        tr.patch(pipelines, attr, f"{layer}.{attr}", layer)
    for attr in ("write_staging", "read_staging", "write_day", "load"):
        tr.patch(storage, attr, f"storage.{attr}", "storage")
    for attr in ("record_quality", "record_etl", "etl_metrics", "quality_metrics"):
        tr.patch(store, attr, f"quality.{attr}", "quality")


# --- gates ---------------------------------------------------------------------


def run_gates(run: Run, spark) -> None:
    from jobinsight_data_pipeline_v2_spark.plans import load_all

    registry = load_all()
    gen_tool = _load_tool("gen_testdata")
    canon_frame = _load_tool("check_correctness").canon_frame
    sf, names = GATES_SF, GATES_SMALL
    tier = run.work / f"tier_sf{sf}"
    gen_s, counts = [], None
    for _ in range(GEN_REPEATS):
        t = perf()
        counts = gen_tool.generate(sf, str(tier), run.args.seed)
        gen_s.append(perf() - t)
    sf_dir = str(tier)
    run.detail.update({
        "setup_s": statistics.median(gen_s),
        "setup_phases_s": {"generate_median": statistics.median(gen_s)},
        "gates": names,
        "tier": {"sf": sf, "rows": counts},
    })

    # a gate run builds the gate and pulls its output to pandas, as a
    # caller that wants the answer does; the output is hashed in
    # ``tools/check_correctness.py``'s canonical form after the pass
    def one_pass() -> tuple[float, list[float], list[tuple[str, list]]]:
        t0, times, outputs = perf(), [], []
        for name in names:
            fn, _ = registry[name]
            mod = fn.__module__.rsplit(".", 1)[-1]
            t = perf()
            try:
                with run.span(f"plans.{mod}:{name}", f"plans.{mod}"):
                    out = fn(spark, sf_dir).toPandas()
            except Exception as e:
                run.op(False, f"{name}: {type(e).__name__}: {e}")
                continue
            times.append(perf() - t)
            outputs.append((name, out))
        p = perf() - t0
        return p, times, [(name, list(canon_frame(out)[:3])) for name, out in outputs]

    if run.args.trace:
        # the traced pass is the same first pass an untraced run times
        run.tracer = tr = Tracer(spark)
        with tr.span("pass", "bench") as pass_span:
            run.detail["traced_pass_s"], _, hashes = one_pass()
        run.detail["trace_ctx"] = {"pass_span": pass_span["id"]}
    else:
        passes, gate_s, hashes = [], [], []
        deadline = perf() + run.args.seconds
        while True:
            p, g, outputs = one_pass()
            passes.append(p)
            gate_s += g
            hashes += outputs
            if perf() >= deadline:
                break
        run.detail["pass_samples"] = passes
        run.e2e["pass_s"] = (statistics.median(passes), "s")
        run.e2e["op_s_p50"] = (statistics.median(gate_s), "s")
    run.e2e["peak_rss_mb"] = (peak_rss_mb(spark), "MB")
    check_gates(run, registry, sf_dir, hashes, canon_frame)


def check_gates(run: Run, registry, sf_dir: str, hashes: list[tuple[str, list]],
                canon_frame) -> None:
    """Compare each gate run's output hash with its DuckDB oracle's; each
    gate run is one operation. The oracle's answer depends only on the
    tier, so it is cached per (seed, tier); it runs after everything
    measured, so whether the cache held it changes no metric."""
    import duckdb

    from jobinsight_data_pipeline_v2_spark.tables import TESTDATA_TABLES

    cache_path = ROOT / ".perfbench" / "oracle_cache" / f"sf{GATES_SF}-seed{run.args.seed}.json"
    cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
    con = None
    empty = set()
    for name, got in hashes:
        try:
            if name not in cache:
                if con is None:
                    con = duckdb.connect()
                    for t in TESTDATA_TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
                cache[name] = list(canon_frame(con.sql(registry[name][1]).fetchdf())[:3])
        except Exception as e:
            run.op(False, f"{name} oracle: {type(e).__name__}: {e}")
            continue
        if got[0] == 0:
            empty.add(name)
        run.op(got == cache[name], f"{name}: spark rows={got[0]} hash={got[2]} vs oracle "
                                   f"rows={cache[name][0]} hash={cache[name][2]}")
    if con is not None:
        con.close()
    cache_path.parent.mkdir(parents=True, exist_ok=True)
    cache_path.write_text(json.dumps(cache, indent=1, sort_keys=True))
    run.detail["empty_output_gates"] = sorted(empty)


# --- per-layer figures from spans and the event log ----------------------------


def layer_metrics(run: Run, cores: int) -> dict[str, tuple[float, str]]:
    tr = run.tracer
    logs = list((run.work / "eventlog").glob("*"))
    log = eventlog.read(str(logs[0]))
    spans = tr.spans
    ctx = run.detail["trace_ctx"]
    pass_span = next(s for s in spans if s["id"] == ctx["pass_span"])

    def named(prefix: str) -> list[dict]:
        return [s for s in spans if s["name"].startswith(prefix)]

    def dur(ss) -> float:
        return sum(s["end"] - s["start"] for s in ss)

    def work(ss) -> dict:
        ids = set()
        for s in ss:
            ids |= tr.descendants(s["id"])
        return eventlog.aggregate(log, ids)

    m: dict[str, tuple[float, str]] = {"session.start_s": (run.detail["session_phases_s"]["start"], "s")}
    for mod in PLAN_MODULES:
        ss = [s for s in spans if s["layer"] == f"plans.{mod}"]
        a = work(ss)
        m[f"plans.{mod}.s"] = (dur(ss), "s")
        m[f"plans.{mod}.jobs"] = (a["jobs"], "count")
        m[f"plans.{mod}.task_s"] = (a["task_s"], "s")
        m[f"plans.{mod}.shuffle_mb"] = (a["shuffle_mb"], "MB")
        m[f"plans.{mod}.spill_mb"] = (a["spill_mb"], "MB")

    run_day = named("pipelines.run_day")
    parse_execs = 0
    if run_day:
        ids = tr.descendants(run_day[0]["id"])
        parse_execs = sum(
            1 for x in log.sql.values() if x["group"] in ids and "MapInPandas" in x["plan"]
        )
    m["sources.parse_s"] = (dur(named("sources.parse")), "s")
    m["sources.parse_passes"] = (parse_execs, "count")

    validate = [s for s in spans if s["name"] in (
        "quality.crawl_validation", "quality.staging_validation",
        "quality.business_rule_violations", "quality.evaluate_gate")]
    record = named("quality.record_")
    m["quality.validate_s"] = (dur(validate), "s")
    m["quality.record_s"] = (dur(record), "s")
    m["quality.jobs"] = (work([s for s in spans if s["layer"] == "quality"])["jobs"], "count")
    m["warehouse.build_s"] = (dur(named("warehouse.build_warehouse_day")), "s")

    write_day = named("storage.write_day")
    writes = write_day + named("storage.write_staging")
    wd, wa = work(write_day), work(writes)
    postings = ctx.get("postings_day") or 0
    m["storage.write_staging_s"] = (dur(named("storage.write_staging")), "s")
    m["storage.write_day_s"] = (dur(write_day), "s")
    m["storage.load_s"] = (dur(named("storage.load")), "s")
    m["storage.write_day.jobs"] = (wd["jobs"], "count")
    m["storage.write_day.shuffle_mb"] = (wd["shuffle_mb"], "MB")
    m["storage.bytes_written_per_posting"] = (wa["out_bytes"] / postings if postings else 0.0, "B")
    m["storage.files_written"] = (wa["files_written"], "count")
    m["storage.stored_bytes_per_posting"] = (ctx.get("stored_bytes_per_posting", 0.0), "B")

    drains = named("views.drain:")
    dw = work(drains)
    m["views.register_s"] = (dur(named("views.register_")), "s")
    m["views.drain_s"] = (dur(drains), "s")
    m["views.jobs"] = (dw["jobs"], "count")
    m["views.task_s"] = (dw["task_s"], "s")

    m["pipelines.ingest_self_s"] = (sum(tr.self_time(s) for s in named("pipelines.ingest_day")), "s")
    m["pipelines.build_self_s"] = (sum(tr.self_time(s) for s in named("pipelines.build_day")), "s")

    win = eventlog.window(log, pass_span["start"], pass_span["end"], cores)
    m["spark.jobs"] = (win["jobs"], "count")
    m["spark.stages"] = (win["stages"], "count")
    m["spark.tasks"] = (win["tasks"], "count")
    m["spark.gc_s"] = (win["gc_s"], "s")
    m["spark.driver_only_s"] = (win["driver_only_s"], "s")
    m["spark.core_util"] = (win["core_util"], "ratio")
    m["trace.overhead_s"] = (tr.overhead_s, "s")
    return m


# --- entry point ---------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl_daily", "gates_small"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = Run(args)
    spark, session_s = start_session(run)
    try:
        t = perf()
        self_check(spark)
        run.detail["session_phases_s"] = {"start": session_s, "self_check": perf() - t}
        session_s += perf() - t
        if args.workload == "etl_daily":
            run_etl(run, spark)
            run.e2e["peak_rss_mb"] = (peak_rss_mb(spark), "MB")
            inputs = {"postings": ETL_PER_DAY, "days": 1}
        else:
            run_gates(run, spark)  # reads peak RSS before its output check
            inputs = {"sf": run.detail["tier"]["sf"], "rows": run.detail["tier"]["rows"],
                      "gates": run.detail["gates"]}
        run.e2e["setup_s"] = (session_s + run.detail.pop("setup_s"), "s")
        result_stamp = stamp(run, spark, inputs)
        cores = spark.sparkContext.defaultParallelism
    finally:
        spark.stop()
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "failed_share": run.failed / max(run.attempted, 1),
        "problems": run.problems[:50],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in run.e2e.items()},
        "stamp": result_stamp,
        "detail": run.detail,
    }
    if args.trace:
        out["per_layer"] = {
            k: {"value": v, "unit": u}
            for k, (v, u) in layer_metrics(run, cores).items()
        }
        out["spans"] = run.tracer.spans
    Path(args.out).write_text(json.dumps(out, indent=1, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
