"""Seeded input generators for the lifecycle benchmark.

Every generator is a pure function of its seed (and, for uploads, of the
upload index), writes plain files, and returns a small description of what
it wrote. The same seed gives byte-identical files. The engine only ever
sees these files, never the generator's in-memory values.

* Claims history + uploads (``ingest_cycle``): CSV files with the
  reference's Korean headers, the 3-format manufacture-date mix, about 5%
  duplicate claim ids inside each file (a later ``load_seq`` wins), a few
  blank or padded ids, and the tree's critical majors (``1-URGENT``,
  ``2-HIGH``) among the major categories.
* Orders-shaped tables (``dashboard_reads``): ``orders``, ``lineitem`` and
  ``customer`` parquet files with the column names, types and value domains
  of the engine's TPC-H-shaped test tables (3 plants F/O/P, 5 priorities,
  order dates 1995-01-01..2001-08-01), so the fixed-year panel filters
  select real rows.
"""

from __future__ import annotations

import csv
import datetime as dt
from dataclasses import dataclass
from pathlib import Path

import numpy as np

PLANTS = ("F", "O", "P")
MAJORS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
CHANNELS = ("전화", "웹", "방문")
DATE_FORMATS = ("%Y/%m/%d", "%Y-%m-%d", "%Y.%m.%d")

# Korean source headers of the upload files, in file order; ``load_seq`` is
# the explicit ingest sequence the keep-last dedup orders by.
UPLOAD_HEADER = (
    "접수년", "접수월", "접수일", "접수경로", "상담번호", "제품명", "제품범주2",
    "대분류", "중분류", "등급기준", "제조일자", "유통기한", "플랜트", "LOT", "load_seq",
)

# Seeds of the set-up (warm-up) inputs are derived from the run seed so the
# warm-up never sees the timed inputs.
WARMUP_SEED_OFFSET = 1_000_003


@dataclass(frozen=True)
class ClaimsScale:
    cat2: int = 12  # product categories per plant → series = 3 × cat2 × 5
    middles: int = 4
    history_months: int = 60
    rows_per_month: int = 420
    month_upload_rows: int = 420
    fix_late_rows: int = 36
    fix_corrections: int = 24
    fix_groups: int = 3
    dup_share: float = 0.05


@dataclass(frozen=True)
class OrdersScale:
    orders: int = 15_000
    lineitems: int = 60_000
    customers: int = 1_500


HISTORY_START = (2021, 1)


def _month_add(ym: tuple[int, int], k: int) -> tuple[int, int]:
    y, m = ym
    idx = y * 12 + (m - 1) + k
    return idx // 12, idx % 12 + 1


def series_keys(scale: ClaimsScale) -> list[tuple[str, str, str]]:
    return [
        (p, f"CAT-{c:02d}", mj)
        for p in PLANTS
        for c in range(1, scale.cat2 + 1)
        for mj in MAJORS
    ]


def _group_rates(seed: int, scale: ClaimsScale) -> np.ndarray:
    """Per-series monthly claim rate: lognormal weights, so a few dense
    series and a long sparse tail (the tree's two regimes)."""
    rng = np.random.default_rng([seed, 7])
    w = rng.lognormal(0.0, 1.0, len(series_keys(scale)))
    return w / w.sum()


def _claim_rows(
    rng: np.random.Generator,
    n: int,
    ym: tuple[int, int],
    keys: list[tuple[str, str, str]],
    probs: np.ndarray,
    scale: ClaimsScale,
    id_prefix: str,
    seq_base: int,
) -> list[list[str]]:
    g = rng.choice(len(keys), size=n, p=probs)
    days = rng.integers(1, 29, n)
    lags = rng.integers(-5, 240, n)
    fmts = rng.integers(0, 3, n)
    mids = rng.integers(1, scale.middles + 1, n)
    chans = rng.integers(0, len(CHANNELS), n)
    rows = []
    for i in range(n):
        plant, cat2, major = keys[g[i]]
        rec = dt.date(ym[0], ym[1], int(days[i]))
        mfg = rec - dt.timedelta(days=int(lags[i]))
        exp = mfg + dt.timedelta(days=365)
        fmt = DATE_FORMATS[fmts[i]]
        rows.append([
            str(ym[0]), str(ym[1]), str(int(days[i])), CHANNELS[chans[i]],
            f"{id_prefix}{i:06d}", f"{cat2}-item{int(mids[i])}", cat2, major,
            f"MID-{int(mids[i])}", "중대" if major in MAJORS[:2] else "일반",
            mfg.strftime(fmt), exp.strftime(fmt), plant,
            f"L{mfg:%y%m%d}", str(seq_base + i),
        ])
    return rows


def _with_dups(rng: np.random.Generator, rows: list[list[str]], share: float, seq_base: int):
    """Append re-sent copies of ~share of the rows with a later load_seq and
    a changed middle category (keep-last must pick the copy), pad a few ids
    with spaces and blank one id (trim + null-key drop)."""
    n = len(rows)
    k = max(1, int(round(n * share)))
    out = [list(r) for r in rows]
    for j, i in enumerate(rng.choice(n, size=k, replace=False)):
        r = list(rows[i])
        r[8] = "MID-R"
        r[14] = str(seq_base + n + j)
        out.append(r)
    for i in rng.choice(n, size=max(1, n // 100), replace=False):
        out[i][4] = f" {out[i][4]} "
    blank = list(out[int(rng.integers(0, n))])
    blank[4] = ""
    blank[14] = str(seq_base + n + k)
    out.append(blank)
    return out


def _write_csv(path: Path, rows: list[list[str]]) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(UPLOAD_HEADER)
        w.writerows(rows)


def _seq_base(upload_index: int) -> int:
    # history is upload -1; every later file carries strictly larger seqs
    return (upload_index + 2) * 10_000_000


def write_history(seed: int, path: Path, scale: ClaimsScale = ClaimsScale(),
                  rows: list[list[str]] | None = None) -> dict:
    """The seeded claims history the hub starts from: ``history_months``
    months from HISTORY_START with a Poisson number of claims per month.
    ``rows`` passes ``history_rows(seed, scale)`` when the caller has it."""
    rows = _with_dups(
        np.random.default_rng([seed, 3]), rows or history_rows(seed, scale), scale.dup_share,
        _seq_base(-1),
    )
    _write_csv(path, rows)
    return {
        "rows": len(rows),
        "series": len(series_keys(scale)),
        "months": scale.history_months,
        "first_month": "%04d-%02d" % HISTORY_START,
        "last_month": "%04d-%02d" % _month_add(HISTORY_START, scale.history_months - 1),
    }


def upload_kind(index: int) -> str:
    """Uploads alternate: even indices add the next calendar month, odd
    indices send late or corrected claims for a few groups in old months."""
    return "month" if index % 2 == 0 else "fix"


def write_upload(seed: int, index: int, path: Path, scale: ClaimsScale = ClaimsScale(),
                 history: list[list[str]] | None = None) -> dict:
    """Upload ``index`` of the run with seed ``seed``.

    * month: the calendar month after the hub's last, a few (plant, major)
      pairs spiking so both alert grades occur;
    * fix: new claims dated 2-18 months before the newest month plus
      corrections (same id, date and group; new middle category and
      manufacture date) of history claims, all inside ``fix_groups``
      (plant, cat2, major) groups.

    ``history`` passes ``history_rows(seed, scale)`` when the caller has it.
    """
    rng = np.random.default_rng([seed, 100 + index])
    keys = series_keys(scale)
    probs = _group_rates(seed, scale)
    base = _seq_base(index)
    n_month_uploads = index // 2 + 1 if upload_kind(index) == "month" else (index + 1) // 2
    newest = _month_add(HISTORY_START, scale.history_months - 1 + n_month_uploads)
    if upload_kind(index) == "month":
        boost = np.ones(len(keys))
        for p in rng.choice(len(PLANTS), size=2, replace=False):
            mj = int(rng.integers(0, len(MAJORS)))
            for i, (pl, _, m) in enumerate(keys):
                if pl == PLANTS[p] and m == MAJORS[mj]:
                    boost[i] = 3.0
        pr = probs * boost
        pr /= pr.sum()
        # a fixed row count: upload size is the same under every seed
        rows = _claim_rows(rng, scale.month_upload_rows, newest, keys, pr, scale,
                           f"U{index:03d}-", base)
        touched = sorted({tuple(r[i] for i in (12, 6, 7)) for r in rows})
    else:
        gi = rng.choice(len(keys), size=scale.fix_groups, replace=False)
        only = np.zeros(len(keys))
        only[gi] = 1.0 / len(gi)
        rows = []
        for j in range(scale.fix_late_rows):
            ym = _month_add(newest, -int(rng.integers(2, 19)))
            rows += _claim_rows(rng, 1, ym, keys, only, scale, f"U{index:03d}-{j:03d}-", base + len(rows))
        # corrections: re-send some history claims of the chosen groups with
        # a new middle category and manufacture date
        hist = history or history_rows(seed, scale)
        chosen = {keys[i] for i in gi}
        cands = [r for r in hist if (r[12], r[6], r[7]) in chosen]
        for r in (cands[i] for i in rng.choice(len(cands), size=min(len(cands), scale.fix_corrections), replace=False)):
            c = list(r)
            c[8] = f"MID-{int(rng.integers(1, scale.middles + 1))}"
            c[10] = (dt.date(int(c[0]), int(c[1]), int(c[2])) - dt.timedelta(days=int(rng.integers(0, 90)))).strftime("%Y/%m/%d")
            c[14] = str(base + len(rows))
            rows.append(c)
        touched = sorted(chosen)
    rows = _with_dups(rng, rows, scale.dup_share, base)
    _write_csv(path, rows)
    return {"kind": upload_kind(index), "rows": len(rows), "touched": touched,
            "month": "%04d-%02d" % newest}


def history_rows(seed: int, scale: ClaimsScale) -> list[list[str]]:
    """History rows before duplicate injection; fix uploads re-send some
    of them as corrections."""
    rng = np.random.default_rng([seed, 1])
    keys = series_keys(scale)
    probs = _group_rates(seed, scale)
    rows: list[list[str]] = []
    base = _seq_base(-1)
    for k in range(scale.history_months):
        ym = _month_add(HISTORY_START, k)
        n = int(rng.poisson(scale.rows_per_month))
        rows += _claim_rows(rng, n, ym, keys, probs, scale, f"H{k:03d}-", base + len(rows))
    return rows


# ------------------------------------------------------------ orders tables

_ORDER_LO = dt.datetime(1995, 1, 1)
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - _ORDER_LO).days
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def write_orders_tables(seed: int, out_dir: Path, scale: OrdersScale = OrdersScale()) -> dict:
    """orders / lineitem / customer parquet files in the column layout and
    value domains of the engine's test tables (uniform draws, as there)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    out_dir.mkdir(parents=True, exist_ok=True)
    no, nl, nc = scale.orders, scale.lineitems, scale.customers
    ts = pa.timestamp("us")

    def days(n, span):
        return np.datetime64(_ORDER_LO, "us") + rng.integers(0, span + 1, n).astype("timedelta64[D]")

    odates = days(no, _ORDER_DAYS)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(PLANTS)[rng.integers(0, 3, no)].tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": pa.array(odates, ts),
        "o_orderpriority": pa.array(np.array(MAJORS)[rng.integers(0, 5, no)].tolist(), pa.string()),
    })
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20000, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, nl)].tolist(), pa.string()),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, nl)].tolist(), pa.string()),
        "l_shipdate": pa.array(days(nl, _ORDER_DAYS + 95) + np.timedelta64(1, "D"), ts),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)].tolist(), pa.string()),
    })
    for name, t in (("orders", orders), ("lineitem", lineitem), ("customer", customer)):
        pq.write_table(t, out_dir / f"{name}.parquet")
    return {"orders": no, "lineitem": nl, "customer": nc, "series": len(PLANTS) * len(MAJORS),
            "months": 80}


@dataclass(frozen=True)
class ForecastScale:
    plants: int = 4  # series = plants × priorities
    priorities: int = 4
    months: int = 36
    orders: int = 4_000
    lineitems: int = 3_000


def write_forecast_tables(seed: int, out_dir: Path, scale: ForecastScale = ForecastScale()) -> dict:
    """An orders-shaped table (plus lineitem for the sales exog) for the
    forecast fan-out: ``plants × priorities`` series over ``months`` months
    from 1995-01, each series with its own level. Plants are named PL01..
    so the table can hold more series than the 3 plants of the panels."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    out_dir.mkdir(parents=True, exist_ok=True)
    keys = [(f"PL{p:02d}", m) for p in range(1, scale.plants + 1) for m in MAJORS[: scale.priorities]]
    w = rng.lognormal(0.0, 0.5, len(keys))
    g = rng.choice(len(keys), size=scale.orders, p=w / w.sum())
    span = (dt.datetime(*_month_add((1995, 1), scale.months), 1) - _ORDER_LO).days - 1
    ts = pa.timestamp("us")
    day = lambda n: np.datetime64(_ORDER_LO, "us") + rng.integers(0, span + 1, n).astype("timedelta64[D]")  # noqa: E731
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(scale.orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 1500, scale.orders).astype(np.int64)),
        "o_orderstatus": pa.array([keys[i][0] for i in g], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, scale.orders), 2)),
        "o_orderdate": pa.array(day(scale.orders), ts),
        "o_orderpriority": pa.array([keys[i][1] for i in g], pa.string()),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, scale.orders, scale.lineitems).astype(np.int64)),
        "l_quantity": pa.array(rng.integers(1, 51, scale.lineitems).astype(np.float64)),
        "l_shipdate": pa.array(day(scale.lineitems), ts),
    })
    pq.write_table(orders, out_dir / "orders.parquet")
    pq.write_table(lineitem, out_dir / "lineitem.parquet")
    return {"series": len(keys), "months": scale.months, "orders": scale.orders}
