#!/usr/bin/env python3
"""Claim-lifecycle benchmark: upload → alerts, dashboard reads and the
forecast fan-out, driven through the engine's public layer functions.

    python3 perfbench/run.py --workload ingest_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root. Single process, single client, on
``local[<nproc>]``. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones. The
line before it (``report ...``) carries the per-workload detail: the
named latencies, failures with their op and reason, nproc, heap and the
code identity.

Workloads:

* ``ingest_cycle``: on a freshly loaded hub, a next-month upload and a
  late-fix upload, each timed from reading the upload file to written
  alerts;
* ``dashboard_reads``: a fresh data version per iteration, every panel
  viewed once, the forecast fan-out, then Zipf repeat views.

End-to-end metrics (every workload prints all of them):

* ``setup_s``: session start + input staging (ingest: writing the
  history and loading it into the hub; reads: an unrecorded warm-up on a
  data version made from a different seed);
* ``new_s``: time to serve input the engine has not seen (ingest:
  next-month upload → alerts; reads: the first view of every panel of a
  fresh version, summed — the dashboard refresh);
* ``revisit_s``: time to serve a revisit (ingest: late/corrected claims
  for old months → alerts; reads: the Zipf repeat views, summed). Sums,
  not per-view medians: the views differ in cost, and a median over them
  jumps between panels with the order of the views;
* ``ok_share``: 1 − failed ÷ attempted timed ops (an op fails when it
  raises or its output check does not match).

Throughputs (ingest: claim rows per second; reads: panel views per
second) follow from ``new_s`` + ``revisit_s`` and are only reported. So
is the forecast fan-out's series per second: its Python workers fill
every core, so it follows host contention (quartile spread 0.33 over ten
runs on a 4-vCPU host).

``--trace 1`` traces one iteration of the named workload from a
SparkContext with an uncompressed event log and prints every per-layer
metric; the spans of the other workload read 0. The tracing overhead is
traced − untraced time of the same warm work as a share of the untraced
time, the SparkContext restarted in the same JVM between the two:

* ingest: the session starts traced, runs the upload pair (its spans are
  the per-layer metrics, as cold as in the untraced runs), then repeats
  the read-only alerts leg on the same hub traced and, after the restart,
  untraced;
* reads: the session starts untraced, warms up, views a version (first
  views + forecast), then restarts traced and views the next version.
"""

from __future__ import annotations

import argparse
import atexit
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HEAP = "2g"
WORKLOADS = ("ingest_cycle", "dashboard_reads")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress to stderr; stdout carries only the results."""
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _die(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


sys.path.insert(0, str(ROOT))

from perfbench import gen, ingest, metrics, reads, trace  # noqa: E402

SCALES = {
    # full: the benchmark proper; tiny: the benchmark's own tests
    "full": {
        "claims": gen.ClaimsScale(),
        "orders": gen.OrdersScale(),
        "forecast": gen.ForecastScale(plants=2),
        "warm_forecast": gen.ForecastScale(plants=2, priorities=2, months=24, orders=800),
        "repeats": 11,
    },
    "tiny": {
        "claims": gen.ClaimsScale(cat2=2, history_months=24, rows_per_month=40,
                                  month_upload_rows=40, fix_late_rows=8, fix_corrections=4),
        "orders": gen.OrdersScale(orders=1500, lineitems=6000, customers=150),
        "forecast": gen.ForecastScale(plants=1, priorities=2, months=24, orders=400, lineitems=400),
        "warm_forecast": gen.ForecastScale(plants=1, priorities=1, months=14, orders=100, lineitems=100),
        "repeats": 3,
    },
}


# ------------------------------------------------------------------ hygiene

def install_staging() -> Path:
    """One private temp parent inside the checkout for everything the run
    writes (inputs, hub, docs, Spark local dirs, event log, temp files),
    removed on exit and on SIGTERM."""
    parent = ROOT / ".perfbench_work"
    parent.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"run_{os.getpid()}_", dir=parent))
    tmp = work / "tmp"
    tmp.mkdir()
    tempfile.tempdir = str(tmp)
    os.environ["TMPDIR"] = str(tmp)

    def sweep():
        shutil.rmtree(work, ignore_errors=True)
        try:
            parent.rmdir()
        except OSError:
            pass

    atexit.register(sweep)

    def on_term(signum, frame):  # noqa: ARG001
        raise SystemExit(143)

    signal.signal(signal.SIGTERM, on_term)
    return work


def engine_env(work: Path) -> None:
    """Environment the engine's session factory and its Python workers
    read: the checkout on PYTHONPATH (workers unpickle engine functions by
    module), local dirs inside the run's parent, cores and heap."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # every JVM (spark-submit's launcher too): temp files in the run's
    # parent, no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"


def start_session(work: Path, event_log: Path | None = None):
    from claim_analysis_engine_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log is None:
        # a context started in a JVM whose first context logged events
        # inherits that setting from the launch options: switch it off
        conf["spark.eventLog.enabled"] = "false"
    else:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_engine(spark, sampler: trace.RssSampler) -> None:
    """Stop the SparkContext, shut the JVM down and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (subprocess.TimeoutExpired, OSError):
                proc.kill()
                proc.wait()
    # Python workers outlive the JVM briefly (they exit on its EOF)
    procs = {**sampler.seen, **{p: start for p, (start, _) in sampler.descendants().items()}}
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = {p: s for p, s in procs.items() if trace.running(p, s)}
        if procs:
            time.sleep(0.1)
    for p, s in procs.items():
        if trace.running(p, s):
            os.kill(p, signal.SIGKILL)


def _steal_s() -> float:
    """Cumulative steal time of all CPUs (0 where /proc/stat has none)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def code_identity() -> dict:
    h = hashlib.sha256()
    for p in sorted((ROOT / "claim_analysis_engine_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    head = None
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        head = r.stdout.strip() or None
    return {"git_head": head, "engine_sha256": h.hexdigest()[:16]}


# ------------------------------------------------------------------ workloads

class Ctx:
    def __init__(self, args, work: Path, scale: dict):
        self.args, self.work, self.scale = args, work, scale
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.steal_s = 0.0  # CPU time the hypervisor took from this VM while timed
        self.sampler = trace.RssSampler().start()

    def op(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.failures += errors

    @contextmanager
    def timed(self):
        self.sampler.window = True
        steal0 = _steal_s()
        try:
            yield
        finally:
            self.sampler.window = False
            self.steal_s += _steal_s() - steal0


class IngestRun:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.uploads: list[dict] = []

    def setup(self):
        """Load the history into a new hub. There is no warm-up upload (one
        per refresh branch would add about 40 s to every run on 4 cores),
        so the timed month upload also pays the JVM's code generation and
        JIT for the upload path, the same way in every run."""
        c = self.ctx
        self.st = ingest.setup(c.spark, c.work / "ingest", c.args.seed, c.scale["claims"])
        log("ingest hub loaded")

    def iterate(self, spans, traced: bool = False) -> list[dict]:
        """One month upload and one fix upload (the pair keeps both refresh
        branches in every run). Traced iterations also count the rows kept
        by the ETL and skip the Spark-side mart rebuild check."""
        c = self.ctx
        self.st.spark = c.spark
        done = []
        for _ in range(2):
            kind = gen.upload_kind(self.st.next_index)
            try:
                with c.timed():
                    info = ingest.upload(self.st, spans)
            except Exception as e:  # a failing upload is counted, and ends the loop
                traceback.print_exc(file=sys.stderr)
                c.op([f"upload {self.st.next_index - 1} ({kind}) raised "
                      f"{type(e).__name__}: {str(e)[:300]}"])
                break
            log(f"upload {info['index']} ({kind}) {info['seconds']:.2f}s")
            errors = ingest.run_checks(self.st, info, rebuild=not traced)
            log(f"upload {info['index']} checked: {errors or 'ok'}")
            if traced:
                info["rows_kept"] = info["batch"].count()
            c.op(errors)
            done.append(info)
        self.uploads += done
        return done

    def e2e(self) -> dict:
        month = [u["seconds"] for u in self.uploads if u["kind"] == "month"]
        fix = [u["seconds"] for u in self.uploads if u["kind"] == "fix"]
        rows = sum(u["rows"] for u in self.uploads)
        secs = sum(u["seconds"] for u in self.uploads)
        return {
            "new_s": statistics.median(month) if month else None,
            "revisit_s": statistics.median(fix) if fix else None,
            "detail": {
                "upload_month_to_alerts_s": statistics.median(month) if month else None,
                "upload_fix_to_alerts_s": statistics.median(fix) if fix else None,
                "ingest_rows_per_s": rows / secs if secs else None,
                "uploads": [(u["kind"], round(u["seconds"], 3), u["rows"]) for u in self.uploads],
                "history": self.st.history_info,
            },
        }


class ReadsRun:
    def __init__(self, ctx: Ctx):
        from claim_analysis_engine_spark.registry import registry

        self.ctx = ctx
        self.reg = registry()
        self.versions: list[dict] = []
        self.k = 0

    def _version(self, seed, root, k, orders, forecast, repeats, spans) -> dict:
        c = self.ctx
        vdir = reads.write_version(seed, root, k, orders, forecast)
        with c.timed():
            res = reads.view_version(c.spark, self.reg, seed, vdir, k, repeats, spans)
        res["series"] = forecast.plants * forecast.priorities
        log(f"version {root.name}/{k} viewed")
        wrong = reads.check_version(self.reg, vdir, res)
        views = [*res["first"], ("ep3_forecast_e2e", res["forecast_s"], res["forecast_err"])]
        for op, _, err in views:
            errs = [f"{op} first view {e}" for e in (err, wrong.get(op)) if e]
            c.op(errs)
        for op, _, err in res["repeat"]:
            c.op([f"{op} repeat view {err}"] if err else [])
        log(f"version {root.name}/{k} checked: {wrong or 'ok'}")
        return res

    def setup(self):
        """Warm-up: one data version from a different seed with panel tables
        at the timed scale, so the timed views find the same plan shapes
        compiled, and a small forecast table (the fan-out's cost is Python
        model fitting, which needs no JVM warm-up), viewed by nproc threads
        at once."""
        c = self.ctx
        vdir = reads.write_version(c.args.seed + gen.WARMUP_SEED_OFFSET, c.work / "warm_reads", 0,
                                   c.scale["orders"], c.scale["warm_forecast"])
        reads.warm_version(c.spark, self.reg, vdir, os.cpu_count() or 4)
        log("reads warm-up done")

    def iterate(self, spans, repeats: int | None = None) -> dict:
        c = self.ctx
        if repeats is None:
            repeats = c.scale["repeats"]
        res = self._version(c.args.seed, c.work / "reads", self.k, c.scale["orders"],
                            c.scale["forecast"], repeats, spans)
        self.k += 1
        self.versions.append(res)
        return res

    def e2e(self) -> dict:
        first = [s for v in self.versions for _, s, _ in v["first"]]
        rep = [s for v in self.versions for _, s, _ in v["repeat"]]
        fc = [v["series"] / v["forecast_s"] for v in self.versions if v.get("forecast_s")]
        allv = sorted(first + rep)
        refresh = [sum(s for _, s, _ in v["first"]) for v in self.versions]
        revisit = [sum(s for _, s, _ in v["repeat"]) for v in self.versions]
        return {
            "new_s": statistics.median(refresh) if first else None,
            "revisit_s": statistics.median(revisit) if rep else None,
            "detail": {
                "panel_views_per_s": len(allv) / sum(allv) if allv else None,
                "panel_first_view_p50_s": statistics.median(first) if first else None,
                "panel_repeat_p50_s": statistics.median(rep) if rep else None,
                "panel_p90_s": statistics.quantiles(allv, n=10)[-1] if len(allv) >= 2 else None,
                "panel_views": len(allv),
                "dashboard_refresh_s": statistics.median(refresh) if first else None,
                "forecast_series_per_s": statistics.median(fc) if fc else None,
                "versions": len(self.versions),
                "first_views": {op: round(s, 3) for op, s, _ in self.versions[0]["first"]} if self.versions else {},
                "repeat_views": [(op, round(s, 3)) for op, s, _ in self.versions[0]["repeat"]] if self.versions else [],
            },
        }


def timed_loop(run, seconds: float, spans) -> None:
    """Iterate until ``seconds`` of timed work are done (at least once)."""
    t = 0.0
    while True:
        t0 = time.perf_counter()
        run.iterate(spans)
        t += time.perf_counter() - t0
        if t >= seconds:
            return


# ------------------------------------------------------------------ modes

def measure(ctx: Ctx, workload: str) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    ctx.spark = start_session(ctx.work)
    log("session started")
    run = IngestRun(ctx) if workload == "ingest_cycle" else ReadsRun(ctx)
    run.setup()
    setup_s = time.perf_counter() - t0
    timed_loop(run, ctx.args.seconds, trace.NoSpans())
    e2e = run.e2e()
    detail = e2e.pop("detail")
    values = {
        "setup_s": setup_s,
        **e2e,
        "ok_share": 1.0 - ctx.failed / max(1, ctx.attempted),
    }
    detail["failed_share"] = ctx.failed / max(1, ctx.attempted)
    # peak RSS of the driver JVM + Python workers while timed: reported
    # here and traced per layer, not bounded (see metrics.COUNTS)
    detail["peak_rss_mb"] = ctx.sampler.peak_mb
    return values, detail


def _sum_spans(records, per, pred) -> dict:
    acc: dict[str, float] = {}
    for r in records:
        if pred(r["name"]):
            for k, v in per[r["group"]].items():
                acc[k] = acc.get(k, 0.0) + v
    return acc


def _views_s(res: dict) -> float:
    return sum(s for _, s, _ in res["first"]) + res["forecast_s"]


def traced(ctx: Ctx, workload: str) -> tuple[dict, dict]:
    """Per-layer run of one workload (order of the traced and untraced
    parts: module docstring)."""
    log_dir = ctx.work / "eventlog"
    if workload == "ingest_cycle":
        ctx.spark = start_session(ctx.work, event_log=log_dir)
        log("session started")
        spans = trace.Spans(ctx.spark)
        run = IngestRun(ctx)
        run.setup()
        uploads = run.iterate(spans, traced=True)
        persistent = len(ctx.spark.sparkContext._jsc.getPersistentRDDs())
        replay = lambda k: ingest.alerts_leg(run.st, str(ctx.work / f"replay{k}"), trace.NoSpans())  # noqa: E731
        # the tree's cached base of the last upload would serve the traced
        # replay; the restarted context has none, so drop it here too
        ctx.spark.catalog.clearCache()
        traced_s = replay(0)
        ctx.spark.stop()
        ctx.spark = run.st.spark = start_session(ctx.work)
        untraced_s = replay(1)
        what = "ingest_cycle alerts leg (rs_tree_relational + compose_alerts) on one hub"
    else:
        ctx.spark = start_session(ctx.work)
        log("session started")
        run = ReadsRun(ctx)
        run.setup()
        untraced_s = _views_s(run.iterate(trace.NoSpans(), repeats=0))
        ctx.spark.stop()
        ctx.spark = start_session(ctx.work, event_log=log_dir)
        spans = trace.Spans(ctx.spark)
        uploads = []
        traced_s = _views_s(run.iterate(spans, repeats=0))
        persistent = len(ctx.spark.sparkContext._jsc.getPersistentRDDs())
        what = "dashboard_reads first views + forecast"
    ctx.spark.stop()

    per = trace.span_metrics(spans.records, trace.parse_event_log(log_dir))
    values: dict[str, float] = {}
    for name, _, span, suf in metrics.span_metric_names():
        if span in metrics.PANEL_MODULES:
            acc = _sum_spans(spans.records, per,
                             lambda n, m=span: n.startswith(m + ".") and "#" not in n)
        else:
            acc = _sum_spans(spans.records, per, lambda n, s=span: n == s)
        values[name] = acc.get(suf, 0.0)
    fc = [r for r in spans.records if r["name"] == metrics.FORECAST_SPAN]
    written = sum(u.get("docs_written", 0) for u in uploads)
    touched = sum(len(u["touched"]) for u in uploads)
    values.update({
        "storage.partitions_rewritten": sum(u["partitions_rewritten"] for u in uploads),
        "storage.files_written": sum(u["files_written"] for u in uploads),
        "storage.write_amplification": sum(u["bytes_written"] for u in uploads)
        / max(1, sum(u["upload_bytes"] for u in uploads)),
        "storage.mart_docs_written": written,
        "storage.mart_docs_touched": touched,
        "storage.mart_useful_ratio": touched / written if written else 0.0,
        "etl.rows_in": sum(u["rows"] for u in uploads),
        "etl.rows_kept": sum(u.get("rows_kept", 0) for u in uploads),
        "rule_engine.alerts_red": sum(u.get("alerts_red", 0) for u in uploads),
        "rule_engine.alerts_yellow": sum(u.get("alerts_yellow", 0) for u in uploads),
        "forecast_models.task_max_over_mean": per[fc[0]["group"]]["task_max_over_mean"] if fc else 0.0,
        "session.persistent_rdds": persistent,
        "session.peak_rss_mb": ctx.sampler.peak_mb,
        "session.trace_overhead_share": (traced_s - untraced_s) / untraced_s,
    })
    detail = {
        "trace_overhead": {"iteration": what,
                           "untraced_s": untraced_s, "traced_s": traced_s},
        "failed_share": ctx.failed / max(1, ctx.attempted),
        "spans": [{"name": r["name"], **{k: round(v, 4) for k, v in per[r["group"]].items()}}
                  for r in spans.records],
    }
    return values, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=(*WORKLOADS, "all"),
                    help="'all' runs every workload in turn, each in its own process")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SCALES), default="full")
    ap.add_argument("--print-spec", action="store_true",
                    help="print the metric lists of BENCHMARK.json and exit")
    args = ap.parse_args(argv)
    if args.print_spec:
        print(json.dumps({"end_to_end": metrics.end_to_end(), "per_layer": metrics.per_layer()}, indent=2))
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        for w in WORKLOADS:
            print(f"== {w}", flush=True)
            cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", args.scale]
            if subprocess.run(cmd).returncode != 0:
                return 1
        return 0

    if not (ROOT / "claim_analysis_engine_spark" / "__init__.py").is_file():
        _die(f"engine package claim_analysis_engine_spark not found under {ROOT}")
    work = install_staging()
    engine_env(work)
    ctx = Ctx(args, work, SCALES[args.scale])
    try:
        if args.trace:
            values, detail = traced(ctx, args.workload)
            spec = metrics.per_layer()
        else:
            values, detail = measure(ctx, args.workload)
            spec = metrics.end_to_end()
    finally:
        stop_engine(ctx.spark, ctx.sampler)
        ctx.sampler.stop()

    missing = [m["name"] for m in spec if values.get(m["name"]) is None]
    if missing:
        _die(f"no value for {missing}; failures: {ctx.failures}", 1)
    out = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "heap": HEAP, **code_identity(),
        "attempted": ctx.attempted, "failed": ctx.failed, "failures": ctx.failures,
        "steal_s_while_timed": round(ctx.steal_s, 3),
        **detail,
    }
    for name, m in out.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print("report " + json.dumps(report, ensure_ascii=False, default=str))
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
