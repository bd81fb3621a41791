"""session.get_spark's confs: the codegen class cache size, the derived
heap default and Spark's default streaming checkpoint checksums."""

from __future__ import annotations

import pytest

from claim_analysis_engine_spark import session
from claim_analysis_engine_spark.registry import registry

from perfbench.reads import PANELS
from tests.conftest import SF_SMALL


def test_session_carries_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_MAX_ENTRIES
    )


def test_panel_revisit_reuses_generated_classes(spark):
    """After the other ten panels, a repeat view of the first panel finds
    its generated classes still cached. With Spark's 100-entry default the
    other panels evict them, and the revisit recompiles about 20. Adaptive
    execution can still re-plan a revisit into one uncached whole-stage
    variant (0 or 4 compiles seen; 0 every time with AQE off)."""
    reg = registry()
    ops = [op for _, op in PANELS]
    for op in ops:
        reg[op].query(spark, SF_SMALL).toPandas()
    before = session.codegen_stats(spark)
    reg[ops[0]].query(spark, SF_SMALL).toPandas()
    after = session.codegen_stats(spark)
    assert after["compiles"] - before["compiles"] <= 5, (before, after)
    assert after["compile_s"] >= before["compile_s"]


def test_session_keeps_streaming_checkpoint_checksums(spark):
    assert spark.conf.get(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    ).lower() == "true"


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def _mb(value: str) -> int:
    assert value.endswith("m"), value
    return int(value[:-1])


def test_driver_memory_env_override_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory(4, _meminfo(tmp_path, 16_000_000)) == "3g"


@pytest.mark.parametrize("total_gb", [0.5, 1, 2, 4, 8, 15.7, 16, 32, 256])
@pytest.mark.parametrize("cpus", [1, 4, 32])
def test_driver_memory_derived_from_memtotal(tmp_path, monkeypatch, total_gb, cpus):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    total_kb = int(total_gb * 1024 * 1024)
    heap = _mb(session.driver_memory(cpus, _meminfo(tmp_path, total_kb)))
    assert 0 < heap < total_kb // 1024
    assert heap <= session.DRIVER_MEM_CAP_MB
    if total_gb >= 32:
        assert heap == session.DRIVER_MEM_CAP_MB


def test_driver_memory_without_meminfo(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert _mb(session.driver_memory(4, str(tmp_path / "missing"))) == session.DRIVER_MEM_CAP_MB
