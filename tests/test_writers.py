"""Sink layer: partitioned writes, guardrail, compaction, dynamic
overwrite (S6; reference etl.py:67-79)."""

import os

import pytest
from pyspark.sql import functions as F

from udacity_dend_capstone_immigration_spark.sources.writers import (
    PartitionExplosionError,
    write_parquet,
)


@pytest.fixture()
def fact(spark):
    rows = [(2016, m, f"P{i % 3}", float(i)) for m in (4, 5) for i in range(30)]
    return spark.createDataFrame(rows, "entry_year int, entry_month int, port_code string, v double")


def test_partitioned_write_layout(spark, fact, tmp_path):
    out = str(tmp_path / "fact")
    write_parquet(fact, out, partition_by=("entry_year", "entry_month"))
    assert sorted(os.listdir(f"{out}/entry_year=2016")) == ["entry_month=4", "entry_month=5"]
    back = spark.read.parquet(out)
    assert back.count() == 60


def test_compaction_one_file_per_directory(fact, tmp_path):
    out = str(tmp_path / "fact")
    write_parquet(fact, out, partition_by=("entry_year", "entry_month"))
    files = [
        f
        for f in os.listdir(f"{out}/entry_year=2016/entry_month=4")
        if f.endswith(".parquet")
    ]
    assert len(files) == 1


def test_partition_explosion_guardrail(spark, fact, tmp_path):
    with pytest.raises(PartitionExplosionError, match="directories"):
        write_parquet(fact, str(tmp_path / "x"), partition_by=("v",), max_partitions=10)


def test_dynamic_overwrite_keeps_untouched_partitions(spark, fact, tmp_path):
    out = str(tmp_path / "fact")
    write_parquet(fact, out, partition_by=("entry_month",))
    april_update = fact.where(F.col("entry_month") == 4).withColumn("v", F.col("v") + 100)
    write_parquet(april_update, out, partition_by=("entry_month",))
    back = spark.read.parquet(out)
    # May partition survives an overwrite that only carried April rows
    assert back.where("entry_month = 5").count() == 30
    assert back.where("entry_month = 4 and v >= 100").count() == 30


def test_unpartitioned_write(spark, fact, tmp_path):
    out = str(tmp_path / "dim")
    write_parquet(fact, out)
    assert spark.read.parquet(out).count() == 60


def test_write_table_parquet_dispatch(spark, fact, tmp_path):
    from udacity_dend_capstone_immigration_spark.sources.writers import write_table

    out = str(tmp_path / "t")
    write_table(fact, out, fmt="parquet")
    assert spark.read.parquet(out).count() == 60


def test_write_table_delta_gated(spark, fact, tmp_path):
    from udacity_dend_capstone_immigration_spark.sources.writers import delta_available, write_table

    if delta_available():
        pytest.skip("delta installed; gating path not reachable")
    with pytest.raises(ImportError, match="delta-spark"):
        write_table(fact, str(tmp_path / "d"), fmt="delta")


def test_write_table_rejects_unknown_format(fact, tmp_path):
    from udacity_dend_capstone_immigration_spark.sources.writers import write_table

    with pytest.raises(ValueError, match="unsupported"):
        write_table(fact, str(tmp_path / "x"), fmt="orc2")


def test_orc_roundtrip_partitioned(spark, fact, tmp_path):
    from udacity_dend_capstone_immigration_spark.sources.readers import read_orc
    from udacity_dend_capstone_immigration_spark.sources.writers import write_orc

    out = str(tmp_path / "fact_orc")
    write_orc(fact, out, partition_by=("entry_year", "entry_month"))
    assert sorted(os.listdir(f"{out}/entry_year=2016")) == ["entry_month=4", "entry_month=5"]
    files = [
        f
        for f in os.listdir(f"{out}/entry_year=2016/entry_month=4")
        if f.endswith(".orc")
    ]
    assert len(files) == 1  # compaction applies to ORC too
    back = read_orc(spark, out)
    assert sorted(back.columns) == sorted(fact.columns)
    assert (
        sorted(tuple(r) for r in back.select(*fact.columns).collect())
        == sorted(tuple(r) for r in fact.collect())
    )


def test_write_table_orc_dispatch_and_guardrail(spark, fact, tmp_path):
    from udacity_dend_capstone_immigration_spark.sources.writers import write_table

    out = str(tmp_path / "t_orc")
    write_table(fact, out, fmt="orc")
    assert spark.read.orc(out).count() == 60
    with pytest.raises(PartitionExplosionError):
        write_table(fact, out, fmt="orc", partition_by=("v",), max_partitions=5)


def test_fresh_path_guard_is_single_pass(spark, fact, tmp_path, monkeypatch):
    """A write into a new path runs no estimate pass: it counts the
    directories it made, and on overflow removes them all and raises."""
    from udacity_dend_capstone_immigration_spark.sources import writers as W

    def no_estimate(*_):
        raise AssertionError("estimate pass on a fresh path")

    monkeypatch.setattr(W, "estimate_partition_count", no_estimate)
    out = tmp_path / "fresh"
    with pytest.raises(PartitionExplosionError, match="directories"):
        write_parquet(fact, str(out), partition_by=("v",), max_partitions=10)
    assert not out.exists()
    write_parquet(fact, str(out), partition_by=("entry_year", "entry_month"), max_partitions=2)
    assert spark.read.parquet(str(out)).count() == 60


def test_existing_path_explosion_changes_no_file(spark, fact, tmp_path):
    out = str(tmp_path / "fact")
    write_parquet(fact, out, partition_by=("entry_month",))

    def tree():
        return sorted(
            (os.path.relpath(os.path.join(d, f), out), os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, files in os.walk(out)
            for f in files
        )

    before = tree()
    with pytest.raises(PartitionExplosionError, match="directories"):
        write_parquet(fact, out, partition_by=("v",), mode="append", max_partitions=10)
    assert tree() == before
    assert spark.read.parquet(out).count() == 60
