"""Output comparison helpers shared by the workloads' correctness checks."""

from __future__ import annotations

import datetime as dt
import math
import os
import tempfile
from decimal import Decimal
from pathlib import Path

import duckdb


def connect() -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB whose spill files (if any) go to the run's temp dir."""
    return duckdb.connect(config={"temp_directory": tempfile.gettempdir()})


def hub_files(hub: str) -> dict[str, tuple[int, int]]:
    """{relative parquet path: (mtime_ns, size)} of a partitioned hub."""
    out = {}
    for root, _, files in os.walk(hub):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[os.path.relpath(os.path.join(root, f), hub)] = (st.st_mtime_ns, st.st_size)
    return out


def json_lines(out_dir: str):
    """Lines of every part file a Spark JSON write left in ``out_dir``."""
    for p in sorted(Path(out_dir).glob("part-*")):
        with open(p, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield line


def cell(v):
    """Canonical form of one value: floats to 9 decimals, int/float kept
    apart (a 3 and a 3.0 are different outputs), dates as ISO text."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return ("f", round(v, 9))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return cell(v.item())
    return v


def canon(doc):
    """Nested JSON document with None-valued keys dropped and floats
    rounded, so a written doc and a recomputed one compare by value."""
    if isinstance(doc, dict):
        return {k: canon(v) for k, v in sorted(doc.items()) if v is not None}
    if isinstance(doc, list):
        return [canon(v) for v in doc]
    if isinstance(doc, float):
        return round(doc, 9)
    return doc


def _key(row):
    return tuple((x is None, str(x)) for x in row)


def same_rows(got: list[dict], want: list[dict], cols: list[str]) -> str | None:
    """Order-insensitive row equality over ``cols``; None when equal, else
    the reason."""
    g = sorted((tuple(cell(r.get(c)) for c in cols) for r in got), key=_key)
    w = sorted((tuple(cell(r.get(c)) for c in cols) for r in want), key=_key)
    if len(g) != len(w):
        return f"row counts differ: engine={len(g)} duckdb={len(w)}"
    diffs = [(a, b) for a, b in zip(g, w) if a != b]
    if diffs:
        return f"{len(diffs)} rows differ; first (engine, duckdb): {diffs[0]}"
    return None
