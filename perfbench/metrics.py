"""Metric names, units and directions printed by the benchmark. The
``BENCHMARK.json`` lists are generated from these tuples (``python3
perfbench/run.py --print-spec``), and a test keeps the two in step."""

from __future__ import annotations

# name, unit, better, bound (per-workload meaning: run.py docstring)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("new_s", "s", "lower", 0.25),
    ("revisit_s", "s", "lower", 0.25),
    ("ok_share", "share", "higher", 0.01),
)

INGEST_SPANS = (
    "etl.preprocess",
    "storage.merge_upsert",
    "storage.refresh_series_incremental",
    "risk_tree.rs_tree_relational",
    "rule_engine.compose_alerts",
)
FORECAST_SPAN = "forecast_models.ep3_forecast_e2e"
PANEL_MODULES = ("aggregates", "dashboards", "pivots", "risk", "sales")

FULL_SUFFIXES = (
    ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("py_s", "s"),
    ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("input_bytes", "B"),
    ("output_bytes", "B"),
)
PANEL_SUFFIXES = (
    ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("task_s", "s"), ("cpu_s", "s"), ("py_s", "s"), ("shuffle_bytes", "B"),
)

COUNTS = (
    ("storage.partitions_rewritten", "count", "lower"),
    ("storage.files_written", "count", "lower"),
    ("storage.write_amplification", "ratio", "lower"),
    ("storage.mart_docs_written", "count", "lower"),
    ("storage.mart_docs_touched", "count", "lower"),
    ("storage.mart_useful_ratio", "ratio", "higher"),
    ("etl.rows_in", "count", "higher"),
    ("etl.rows_kept", "count", "higher"),
    ("rule_engine.alerts_red", "count", "lower"),
    ("rule_engine.alerts_yellow", "count", "lower"),
    ("forecast_models.task_max_over_mean", "ratio", "lower"),
    ("session.persistent_rdds", "count", "lower"),
    # peak RSS of the JVM + Python workers: reported, not bounded — it
    # jumped from ~2.9 GB to 4.4-5.1 GB in 3 of 10 identical runs on a
    # 4-vCPU host (quartile spread 0.6)
    ("session.peak_rss_mb", "MB", "lower"),
    ("session.trace_overhead_share", "share", "lower"),
)


# spans whose tasks do almost no JVM allocation: their gc_s reads 0 on
# nearly every run, so it is left out
NO_GC_SPANS = ("etl.preprocess", "risk_tree.rs_tree_relational", FORECAST_SPAN)


def span_metric_names() -> list[tuple[str, str, str, str]]:
    """(metric, unit, span-or-module, suffix) for every per-layer span metric."""
    out = []
    for span in (*INGEST_SPANS, FORECAST_SPAN):
        for suf, unit in FULL_SUFFIXES:
            if not (suf == "gc_s" and span in NO_GC_SPANS):
                out.append((f"{span}.{suf}", unit, span, suf))
    for mod in PANEL_MODULES:
        for suf, unit in PANEL_SUFFIXES:
            out.append((f"{mod}.panels.{suf}", unit, mod, suf))
    return out


def per_layer() -> list[dict]:
    spans = [{"name": n, "unit": u, "better": "lower"} for n, u, _, _ in span_metric_names()]
    counts = [{"name": n, "unit": u, "better": b} for n, u, b in COUNTS]
    return spans + counts


def end_to_end() -> list[dict]:
    return [{"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END]
