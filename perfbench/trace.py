"""Spans around the benchmark's calls into the engine's layers, per-span
Spark task metrics from an uncompressed event log, and a process-tree RSS
sampler.

A span is named ``<layer>.<function>``. While tracing, each span sets its
own Spark job group, so every job, stage and task the call starts is
attributed to it; spans never overlap (the benchmark is a single client).
The event log is parsed after the SparkContext stops and has flushed it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class NoSpans:
    """Stands in for ``Spans`` where nothing is traced."""

    @contextmanager
    def span(self, name):  # noqa: ARG002
        yield


class Spans:
    """Records (name, start, end) per span and tags the span's jobs with a
    job group named after the span's sequence number."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.records: list[dict] = []

    @contextmanager
    def span(self, name: str):
        group = f"pb{len(self.records):05d}"
        self.sc.setJobGroup(group, name, False)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.records.append({"name": name, "group": group, "start": t0, "end": t1})


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse_event_log(log_dir: Path) -> dict:
    """Job groups, SQL execution intervals and task metrics from every
    event-log file under ``log_dir``. Job, stage and SQL execution ids
    restart with every SparkContext, so they are keyed by (file number, id)."""
    job_group: dict[tuple[int, int], str] = {}
    stage_job: dict[tuple[int, int], tuple[int, int]] = {}
    sql: dict[tuple[int, int], list] = {}
    tasks: list[dict] = []
    for i, path in enumerate(sorted(Path(log_dir).iterdir())):
        if path.is_dir():
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = (i, ev["Job ID"])
                    job_group[job] = props.get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(i, sid)] = job
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql.setdefault((i, ev["executionId"]), [None, None])[0] = ev["time"] / 1000.0
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    sql.setdefault((i, ev["executionId"]), [None, None])[1] = ev["time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": (i, ev["Stage ID"]),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "dur_ms": (info.get("Finish Time", 0) or 0) - (info.get("Launch Time", 0) or 0),
                    })
    return {"job_group": job_group, "stage_job": stage_job, "sql": sql, "tasks": tasks}


def span_metrics(records: list[dict], log: dict) -> dict[str, dict]:
    """Per-span layer numbers keyed by record group.

    ``driver_s`` is the part of the span's wall time covered by no SQL
    execution (Py4J plan building, Catalyst, Python-side work);
    ``py_s`` = task run time − JVM CPU − GC, the Python-worker estimate.
    """
    per_group: dict[str, dict] = {r["group"]: defaultdict(float) for r in records}
    jobs_per_group: dict[str, set] = defaultdict(set)
    for job, group in log["job_group"].items():
        if group in per_group:
            jobs_per_group[group].add(job)
    stage_durations: dict[str, dict[int, list]] = defaultdict(lambda: defaultdict(list))
    for t in log["tasks"]:
        group = log["job_group"].get(log["stage_job"].get(t["stage"]))
        if group not in per_group:
            continue
        acc = per_group[group]
        acc["tasks"] += 1
        acc["task_s"] += t["run_ms"] / 1000.0
        acc["cpu_s"] += t["cpu_ns"] / 1e9
        acc["gc_s"] += t["gc_ms"] / 1000.0
        acc["shuffle_bytes"] += t["shuffle"]
        acc["spill_bytes"] += t["spill"]
        acc["input_bytes"] += t["input"]
        acc["output_bytes"] += t["output"]
        stage_durations[group][t["stage"]].append(t["dur_ms"])
    out = {}
    for r in records:
        acc = per_group[r["group"]]
        wall = r["end"] - r["start"]
        covered = [
            (max(s, r["start"]), min(e, r["end"]))
            for s, e in log["sql"].values()
            if s is not None and e is not None and e > r["start"] and s < r["end"]
        ]
        acc["wall_s"] = wall
        acc["driver_s"] = max(0.0, wall - _union_len(covered))
        acc["jobs"] = len(jobs_per_group[r["group"]])
        acc["py_s"] = max(0.0, acc["task_s"] - acc["cpu_s"] - acc["gc_s"])
        # balance of the widest stage: slowest task over mean task
        widest = max(stage_durations[r["group"]].values(), key=len, default=[])
        acc["task_max_over_mean"] = (
            max(widest) / (sum(widest) / len(widest)) if widest and sum(widest) > 0 else 1.0
        )
        out[r["group"]] = dict(acc)
    return out


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def proc_stat(pid: int) -> tuple[str, int, int, int] | None:
    """(state, parent pid, start time in ticks, RSS kB) of a process, or
    None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        fields = stat[stat.rindex(")") + 2:].split()
        return fields[0], int(fields[1]), int(fields[19]), int(fields[21]) * _PAGE_KB
    except (OSError, ValueError, IndexError):
        return None


def running(pid: int, start: int) -> bool:
    """The process ``pid`` started at ``start`` still runs (a reused pid or
    a zombie does not count)."""
    st = proc_stat(pid)
    return st is not None and st[0] != "Z" and st[2] == start


class RssSampler:
    """Samples the summed RSS of this process's descendants (the driver JVM
    and its Python workers) every ``interval`` seconds; ``peak_mb`` is the
    highest sum seen while ``window`` is open."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.window = False
        self.seen: dict[int, int] = {}  # pid -> start time of every descendant seen
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def descendants(self) -> dict[int, tuple[int, int]]:
        """{pid: (start time, rss_kb)} of every live descendant of this process."""
        stats = {int(d): proc_stat(int(d)) for d in os.listdir("/proc") if d.isdigit()}
        out, frontier = {}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, st in stats.items():
                if st is not None and st[1] == p and c not in out:
                    out[c] = (st[2], st[3])
                    frontier.append(c)
        return out

    def _run(self):
        while not self._stop.wait(self.interval):
            procs = self.descendants()
            self.seen.update({p: start for p, (start, _) in procs.items()})
            if self.window:
                self.peak_kb = max(self.peak_kb, sum(rss for _, rss in procs.values()))
