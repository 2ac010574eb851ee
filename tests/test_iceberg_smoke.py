"""Real-Iceberg-JARS smoke test (round-2 verdict item #8): when a future
container ships Iceberg jars, prove that Spark's own Iceberg reader serves
the incremental-read contract (`start-snapshot-id`) that the watch path
gets from sources/iceberg_lite.read_incremental. Skipped (not failed) when
no Iceberg catalog is on the classpath — which is the current sandbox state.

The jar-free path is NOT skipped: sources/iceberg_lite.py reads/writes the
actual Iceberg v2 on-disk format from the public spec and is exercised by
tests/test_iceberg_lite.py, including the watch path over an Iceberg source.
"""

from __future__ import annotations

import pytest


def try_iceberg(spark) -> bool:
    """True if an Iceberg catalog is usable in this session.

    NOTE: a bare ``spark._jvm.org.apache.iceberg.Table`` attribute access
    does NOT prove the class exists — py4j hands back a JavaPackage
    placeholder without touching the classpath (found by the round-3 smoke
    test). Class.forName is the real probe.
    """
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def test_try_iceberg_probe_is_honest(spark):
    """The probe must return a bool and not raise — callers branch on it."""
    assert try_iceberg(spark) in (True, False)


def test_iceberg_incremental_contract(spark, tmp_path):
    if not try_iceberg(spark):
        pytest.skip("no Iceberg jars on the classpath (expected in sandbox)")
    # the contract streaming/watch.py gets from iceberg_lite.read_incremental:
    # append two commits, read rows added strictly after the first snapshot
    wh = tmp_path / "warehouse"
    spark.conf.set("spark.sql.catalog.smoke", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.smoke.type", "hadoop")
    spark.conf.set("spark.sql.catalog.smoke.warehouse", str(wh))
    spark.sql("CREATE TABLE smoke.db.t (clip_id STRING, transcript STRING) USING iceberg")
    spark.sql("INSERT INTO smoke.db.t VALUES ('c1', 'one')")
    snaps = [r.snapshot_id for r in
             spark.sql("SELECT snapshot_id FROM smoke.db.t.snapshots ORDER BY committed_at").collect()]
    spark.sql("INSERT INTO smoke.db.t VALUES ('c2', 'two')")
    inc = (
        spark.read.format("iceberg")
        .option("start-snapshot-id", snaps[-1])
        .load("smoke.db.t")
    )
    assert [r.clip_id for r in inc.collect()] == ["c2"]
