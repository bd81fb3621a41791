"""``ingest_cycle``: the write path, one upload at a time.

Set-up writes a seeded claims history and loads it into a fresh hub
through the same ETL chain. Each timed upload then runs
``etl.canonicalize`` → ``etl.preprocess`` → ``storage.merge_upsert`` →
``storage.refresh_series_incremental`` + ``write_series_docs`` →
``risk_tree.rs_tree_relational`` over the hub mapped to
status/priority/date → ``rule_engine.compose_alerts`` + alerts doc write.
Uploads alternate between a next-month upload (the refresh's full-rebuild
branch) and a late/corrected-claims upload (its incremental branch).

Checks run outside the timed window after every upload: keep-last rows per
(year, month) in the hub, the refreshed mart docs of the touched groups
against a full rebuild, and the written alerts against a DuckDB
recomputation on the post-upload hub.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path


from perfbench import checks, gen

AS_OF = "2026-08-13"


class IngestState:
    def __init__(self, spark, work: Path, seed: int, scale: gen.ClaimsScale):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self.hub = str(work / "hub")
        self.files: list[Path] = []  # every CSV merged so far, history first
        self.next_index = 0
        self.settings_dir = str(work / "settings")
        self.history: list[list[str]] = []
        self.history_info: dict = {}


def _read_upload(spark, path: Path):
    from claim_analysis_engine_spark import etl

    from pyspark.sql import functions as F

    raw = spark.read.option("header", "true").csv(str(path))
    raw = raw.withColumn("load_seq", F.col("load_seq").cast("long"))
    return etl.preprocess(etl.canonicalize(raw, keep=("load_seq",)), load_seq="load_seq")


def _orders_view(hub_df):
    """The hub in the tree's fact-table shape: plant → status, major →
    priority, reception date → order date."""
    from pyspark.sql import functions as F

    return hub_df.select(
        F.col("claim_id").alias("o_orderkey"),
        F.col("plant").alias("o_orderstatus"),
        F.col("major_category").alias("o_orderpriority"),
        F.col("reception_date").cast("timestamp").alias("o_orderdate"),
    )


def setup(spark, work: Path, seed: int, scale: gen.ClaimsScale) -> IngestState:
    """Write the history and load it into a new hub through the same ETL
    chain; stage the plant settings documents the rule engine reads."""
    from claim_analysis_engine_spark import storage
    from claim_analysis_engine_spark.operators import rule_engine

    st = IngestState(spark, work, seed, scale)
    hist = work / "uploads" / "history.csv"
    st.history = gen.history_rows(seed, scale)
    st.history_info = gen.write_history(seed, hist, scale, st.history)
    storage.write_hub(_read_upload(spark, hist), st.hub)
    st.files.append(hist)
    spark.createDataFrame(rule_engine.P6_SETTINGS).write.mode("overwrite").json(st.settings_dir)
    return st


def upload(st: IngestState, spans) -> dict:
    """Generate the next upload (untimed), then run it through to written
    alerts inside the timed section. Returns its timing and paths."""
    from claim_analysis_engine_spark import storage

    i = st.next_index
    st.next_index += 1
    path = st.work / "uploads" / f"u{i:03d}_{gen.upload_kind(i)}.csv"
    info = gen.write_upload(st.seed, i, path, st.scale, st.history)
    spark = st.spark
    mart_dir = str(st.work / "mart" / f"u{i:03d}")
    alerts_dir = str(st.work / "alerts" / f"u{i:03d}")
    before = checks.hub_files(st.hub)

    t0 = time.perf_counter()
    with spans.span("etl.preprocess"):
        batch = _read_upload(spark, path)
    with spans.span("storage.merge_upsert"):
        storage.merge_upsert(spark, st.hub, batch, "load_seq")
    with spans.span("storage.refresh_series_incremental"):
        claims = storage.read_hub(spark, st.hub)
        docs = storage.refresh_series_incremental(claims, batch, AS_OF)
        storage.write_series_docs(docs, mart_dir)
    alerts_leg(st, alerts_dir, spans)
    elapsed = time.perf_counter() - t0

    st.files.append(path)
    after = checks.hub_files(st.hub)
    changed = {k for k in after if before.get(k) != after[k]}
    docs_files = list(Path(mart_dir).glob("part-*"))
    info.update({
        "index": i, "seconds": elapsed, "path": path, "mart_dir": mart_dir,
        "alerts_dir": alerts_dir, "batch": batch,
        # storage writes = rewritten hub files + series-mart doc files
        "files_written": len(changed) + len(docs_files),
        "partitions_rewritten": len({os.path.dirname(k) for k in changed}),
        "bytes_written": sum(after[k][1] for k in changed)
        + sum(p.stat().st_size for p in docs_files),
        "upload_bytes": path.stat().st_size,
    })
    return info


def alerts_leg(st: IngestState, alerts_dir: str, spans) -> float:
    """The read-only end of an upload: the relational risk tree over the
    hub, then the alerts written to ``alerts_dir``. Returns its seconds."""
    from claim_analysis_engine_spark import storage
    from claim_analysis_engine_spark.operators import risk, risk_tree, rule_engine

    spark = st.spark
    t0 = time.perf_counter()
    with spans.span("risk_tree.rs_tree_relational"):
        orders = _orders_view(storage.read_hub(spark, st.hub))
        tree = risk_tree.rs_tree_relational(spark, st.hub, orders=orders)
        trail = rule_engine._trailing_counts(risk._with_target(spark, st.hub, orders))
    with spans.span("rule_engine.compose_alerts"):
        settings = rule_engine.load_settings(spark, st.settings_dir)
        alerts = rule_engine.compose_alerts(tree, trail, settings, rule_engine.AS_OF)
        alerts.write.mode("overwrite").json(alerts_dir)
    return time.perf_counter() - t0


# ------------------------------------------------------------------ checks

def _expected_hub_sql(files: list[Path]) -> str:
    srcs = ", ".join(f"'{p}'" for p in files)
    return f"""
        WITH raw AS (
          SELECT trim("상담번호") AS id, CAST("load_seq" AS BIGINT) AS seq,
                 CAST("접수년" AS INT) AS y, CAST("접수월" AS INT) AS m
          FROM read_csv([{srcs}], header = true, all_varchar = true)
        ), kept AS (
          SELECT arg_max(y, seq) AS y, arg_max(m, seq) AS m, id, max(seq) AS seq
          FROM raw WHERE id IS NOT NULL AND id <> '' GROUP BY id
        )
        SELECT y, m, count(*) AS n, sum(hash(id || '|' || seq)) AS h
        FROM kept GROUP BY 1, 2
    """


def check_hub(st: IngestState) -> str | None:
    """Keep-last rows per (year, month): the hub must hold exactly the
    newest row of every claim id merged so far."""
    con = checks.connect()
    want = con.execute(_expected_hub_sql(st.files)).fetchall()
    got = con.execute(f"""
        SELECT reception_year, reception_month, count(*),
               sum(hash(claim_id || '|' || load_seq))
        FROM read_parquet('{st.hub}/*/*/*.parquet', hive_partitioning = true)
        GROUP BY 1, 2
    """).fetchall()
    if sorted(want) != sorted(got):
        bad = sorted(set(want) ^ set(got))[:4]
        return f"hub keep-last mismatch in (year, month, n, hash) {bad}"
    return None


def check_mart(st: IngestState, info: dict, rebuild: bool = True) -> str | None:
    """A month upload extends the month spine, so the refresh must rewrite
    every series doc (its full-rebuild branch); a fix upload's docs for the
    touched groups must equal a full rebuild's docs."""
    from pyspark.sql import functions as F

    from claim_analysis_engine_spark import storage

    got = {}
    for line in checks.json_lines(info["mart_dir"]):
        d = json.loads(line)
        got[d["key"]] = d
    info["docs_written"] = len(got)
    if info["kind"] == "month":
        con = checks.connect()
        want = {
            "_".join(r) for r in con.execute(f"""
                SELECT DISTINCT plant, product_category2, major_category
                FROM read_parquet('{st.hub}/*/*/*.parquet', hive_partitioning = true)
            """).fetchall()
        }
        if set(got) != want:
            return f"month upload wrote {len(got)} docs, hub has {len(want)} series"
        return None
    keys = ["_".join(k) for k in info["touched"]]
    missing = [k for k in keys if k not in got]
    if missing:
        return f"mart docs missing for touched groups {missing[:3]}"
    if not rebuild:
        return None
    full = storage.build_series_mart(storage.read_hub(st.spark, st.hub), AS_OF)
    want = {
        r.key: json.loads(r.value)
        for r in full.where(F.col("key").isin(keys))
        .selectExpr("key", "to_json(struct(*)) AS value")
        .collect()
    }
    diff = [k for k in keys if checks.canon(want.get(k)) != checks.canon(got[k])]
    if diff:
        return f"mart docs differ from a full rebuild for {diff[:3]}"
    return None


def check_alerts(st: IngestState, info: dict) -> str | None:
    """Written alerts == the P6 oracle SQL run by DuckDB on the hub."""
    from claim_analysis_engine_spark.operators import rule_engine

    con = checks.connect()
    # a table, not a view: the oracle reads ``orders`` in many CTEs
    con.execute(f"""
        CREATE TABLE orders AS
        SELECT claim_id AS o_orderkey, plant AS o_orderstatus,
               major_category AS o_orderpriority,
               CAST(reception_date AS TIMESTAMP) AS o_orderdate
        FROM read_parquet('{st.hub}/*/*/*.parquet', hive_partitioning = true)
    """)
    cur = con.execute(rule_engine._P6_ORACLE)
    cols = [d[0] for d in cur.description]
    want = [dict(zip(cols, r)) for r in cur.fetchall()]
    got = []
    for line in checks.json_lines(info["alerts_dir"]):
        doc = json.loads(line)
        for a in doc.get("alerts", []):
            got.append({"plant": doc["plant"], **a})
    info["alerts_red"] = sum(a["risk_status"] == "🔴" for a in got)
    info["alerts_yellow"] = sum(a["risk_status"] == "🟡" for a in got)
    return checks.same_rows(got, want, cols)


def run_checks(st: IngestState, info: dict, rebuild: bool = True) -> list[str]:
    """All checks of one upload; ``rebuild=False`` skips the fix upload's
    Spark-side full-rebuild comparison (the traced run's shortcut)."""
    errors = []
    for name, fn in (
        ("hub", lambda: check_hub(st)),
        ("mart", lambda: check_mart(st, info, rebuild)),
        ("alerts", lambda: check_alerts(st, info)),
    ):
        try:
            err = fn()
        except Exception as e:  # a crashing check is a failed check
            traceback.print_exc(file=sys.stderr)
            err = f"{type(e).__name__}: {e}"
        if err:
            errors.append(f"upload {info['index']} ({info['kind']}) {name}: {err}")
    return errors
