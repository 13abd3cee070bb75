"""The materialization seam (``engine/materialize.py``): storage level,
level validation, and the consumer-scan coalesce rule."""

from __future__ import annotations

import pytest

from oroboro_dw_dbt_spark.engine.materialize import _ckpt_scan_width, materialize


def _stored_rdds(spark) -> dict:
    """id → RDDInfo of every RDD holding blocks in the context."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {info.id(): info for info in infos}


def test_disk_level_leaves_disk_only_blocks(spark):
    before = set(_stored_rdds(spark))
    out = materialize(spark.range(0, 2000, numPartitions=4), level="disk")
    new = [i for rid, i in _stored_rdds(spark).items() if rid not in before]
    assert new, "the eager checkpoint stored no blocks"
    for info in new:
        level = info.storageLevel()
        assert level.useDisk() and not level.useMemory(), level.toString()
        assert info.diskSize() > 0 and info.memSize() == 0
    assert out.count() == 2000


def test_default_level_keeps_blocks_in_memory(spark):
    before = set(_stored_rdds(spark))
    materialize(spark.range(0, 2000, numPartitions=4))
    new = [i for rid, i in _stored_rdds(spark).items() if rid not in before]
    assert new and all(i.storageLevel().useMemory() for i in new)


@pytest.mark.parametrize("level", ["DISK", "disk_only", "memory", "auto"])
def test_unknown_level_raises(spark, level):
    with pytest.raises(ValueError, match=repr(level)):
        materialize(spark.range(10), level=level)


@pytest.mark.parametrize("rows,row_bytes", [(1000, 8), (2_000_000, 16)])
def test_rows_coalesce_to_scan_width(spark, rows, row_bytes):
    out = materialize(
        spark.range(0, 1000, numPartitions=8), rows=rows, row_bytes=row_bytes
    )
    assert out.rdd.getNumPartitions() == _ckpt_scan_width(rows, row_bytes, 8)
    assert out.count() == 1000


def test_no_rows_keeps_partitioning(spark):
    """Without rows/row_bytes nothing is coalesced and the checkpoint
    keeps its hash partitioning. (Under AQE the checkpointed plan
    reports UnknownPartitioning, so the partitioning is read with AQE
    off; a later join re-shuffles it, which is why ``ops.graph`` does
    not pre-partition its edge lists.)"""
    def frame():
        return spark.range(0, 1000, numPartitions=3).repartition(6, "id")

    assert materialize(frame()).rdd.getNumPartitions() == 6
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = materialize(frame())
        plan = out._jdf.queryExecution().executedPlan()
        part = plan.outputPartitioning().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert part.startswith("hashpartitioning(id") and part.endswith(", 6)"), part
