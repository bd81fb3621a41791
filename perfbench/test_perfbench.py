"""Tests of the benchmark itself, at a tiny scale.

    python3 -m pytest perfbench -q

The Spark-backed tests start the engine (about a minute each on 4 cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

from perfbench import gen, metrics

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture
def tmp_path():
    """A scratch dir inside the checkout's ignored work area, so the tests,
    like the benchmark, write nothing outside the checkout."""
    parent = ROOT / ".perfbench_work"
    parent.mkdir(exist_ok=True)
    path = Path(tempfile.mkdtemp(prefix="test_", dir=parent))
    yield path
    shutil.rmtree(path, ignore_errors=True)
    try:
        parent.rmdir()
    except OSError:
        pass


def _write_all(seed: int, out: Path) -> None:
    scale = gen.ClaimsScale(cat2=2, history_months=14, rows_per_month=30, month_upload_rows=30)
    gen.write_history(seed, out / "history.csv", scale)
    for i in range(3):
        gen.write_upload(seed, i, out / f"u{i}.csv", scale)
    gen.write_orders_tables(seed, out / "orders", gen.OrdersScale(300, 1200, 40))
    gen.write_forecast_tables(seed, out / "forecast", gen.ForecastScale(1, 2, 14, 100, 100))


def _same_tree(a: Path, b: Path) -> bool:
    files = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    return files == sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file()) and all(
        filecmp.cmp(a / f, b / f, shallow=False) for f in files
    )


def test_generators_are_deterministic(tmp_path):
    _write_all(7, tmp_path / "a")
    _write_all(7, tmp_path / "b")
    _write_all(8, tmp_path / "c")
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not filecmp.cmp(tmp_path / "a" / "history.csv", tmp_path / "c" / "history.csv", shallow=False)


def test_uploads_alternate_and_cover_critical_majors(tmp_path):
    scale = gen.ClaimsScale(cat2=2, history_months=14, rows_per_month=30, month_upload_rows=60)
    info = [gen.write_upload(3, i, tmp_path / f"u{i}.csv", scale) for i in range(4)]
    assert [u["kind"] for u in info] == ["month", "fix", "month", "fix"]
    assert info[0]["month"] == "2022-03" and info[2]["month"] == "2022-04"
    majors = {k[2] for k in info[0]["touched"]}
    assert {"1-URGENT", "2-HIGH"} <= majors
    assert len(info[1]["touched"]) == scale.fix_groups


def test_spec_matches_benchmark_json():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCH["end_to_end"] == metrics.end_to_end()
    assert BENCH["per_layer"] == metrics.per_layer()
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names)) and len(BENCH["per_layer"]) <= 128
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def _run(workload: str, trace: int, cwd: Path = ROOT, env: dict | None = None):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "5", "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600,
                          env={**os.environ, **(env or {})})


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_prints_every_end_to_end_metric(workload):
    res = _result(_run(workload, 0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in BENCH["end_to_end"]]
    for m in BENCH["end_to_end"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert res["metrics"][m["name"]]["value"] > 0


def test_tiny_traced_run_prints_every_per_layer_metric():
    p = _run("ingest_cycle", 1)
    res = _result(p)
    assert res["correct"]
    assert list(res["metrics"]) == [m["name"] for m in BENCH["per_layer"]]
    report = json.loads(next(l for l in p.stdout.splitlines() if l.startswith("report "))[7:])
    assert report["trace_overhead"]["untraced_s"] > 0
    spans = {s["name"] for s in report["spans"]}
    assert set(metrics.INGEST_SPANS) <= spans


def test_corrupted_expected_value_counts_as_failure():
    p = _run("dashboard_reads", 0, env={"PERFBENCH_CORRUPT_EXPECTED": "ppm"})
    res = _result(p)
    assert not res["correct"] and res["failed"] == 1
    assert res["metrics"]["ok_share"]["value"] == pytest.approx(1 - 1 / res["attempted"])
    assert "ppm first view" in p.stdout


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for d in BENCH["paths"]:
        shutil.copytree(ROOT / d, tmp_path / d, ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([*BENCH["command"], "--workload", "ingest_cycle", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and not p.stdout.strip()


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
