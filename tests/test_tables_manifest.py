"""Manifest commit-protocol gates: corrupt/torn manifests read as
uncommitted; stage-name mismatch is not committed; commit is atomic
(no .tmp left behind); the committed totals come from the one lineage
scan and equal a whole-table checksum."""

import glob
import json
import os

import pytest

from kgforge.io import tables


def test_corrupt_manifest_is_uncommitted(tmp_path):
    d = str(tmp_path / "t")
    os.makedirs(d)
    with open(tables.manifest_path(d), "w") as fh:
        fh.write('{"stage": "x", "status": "comm')  # torn write
    assert tables.is_committed(d) is False


def test_missing_and_wrong_stage(tmp_path):
    d = str(tmp_path / "t2")
    os.makedirs(d)
    assert tables.is_committed(d) is False
    with open(tables.manifest_path(d), "w") as fh:
        json.dump({"stage": "a", "status": "committed"}, fh)
    assert tables.is_committed(d, "a") is True
    assert tables.is_committed(d, "b") is False


def test_state_markers_sync_before_rename(tmp_path, monkeypatch):
    """The streaming ``_LATEST`` flip and the checkpoint lineage id are
    fsynced before the rename that publishes them, as a manifest is."""
    from kgforge.streaming import ingest

    calls = []
    fsync, replace = os.fsync, os.replace
    monkeypatch.setattr(os, "fsync", lambda fd: (calls.append("fsync"), fsync(fd))[1])
    monkeypatch.setattr(
        os, "replace", lambda a, b: (calls.append("replace"), replace(a, b))[1]
    )
    marker = str(tmp_path / "_LATEST")
    ingest._flip_marker(marker, "lineage-1", 3)
    assert calls == ["fsync", "replace"]
    with open(marker) as fh:
        assert json.load(fh) == {"checkpoint": "lineage-1", "batch_id": 3}
    calls.clear()
    ident = ingest._checkpoint_identity(str(tmp_path / "ckpt"))
    assert calls == ["fsync", "replace"] and len(ident) == 32
    assert glob.glob(str(tmp_path / "**" / "*.tmp"), recursive=True) == []


def test_write_table_commit_atomic(spark, tmp_path):
    d = str(tmp_path / "t3")
    df = spark.range(10).selectExpr("id", "id * 2 as v")
    m = tables.write_table(df, d, "stage_x")
    assert m["status"] == "committed" and m["row_count"] == 10
    assert tables.is_committed(d, "stage_x")
    assert not os.path.exists(tables.manifest_path(d) + ".tmp")
    assert len(m["lineage"]) >= 1
    assert sum(e["output_rows"] for e in m["lineage"]) == 10


def _seven_files(spark):
    return spark.range(70).selectExpr("id", "id * 2 as v").repartition(7)


def _empty(spark):
    return spark.range(0).selectExpr("id", "cast(id as string) as s")


def _null_bearing(spark):
    return spark.createDataFrame(
        [(1, None), (None, "b"), (None, None), (4, "d")], "k long, s string"
    )


@pytest.mark.parametrize("make", [_seven_files, _empty, _null_bearing])
def test_manifest_totals_equal_table_checksum(spark, tmp_path, make):
    """The manifest's row count and checksum, summed from the per-partition
    lineage, equal a whole-table scan's."""
    d = str(tmp_path / "t")
    m = tables.write_table(make(spark), d, "s")
    assert (m["row_count"], m["checksum"]) == tables.table_checksum(
        spark.read.parquet(d)
    )
    if make is _seven_files:
        assert m["row_count"] == 70
        assert len(m["lineage"]) > 1
    if make is _empty:
        assert (m["row_count"], m["checksum"]) == (0, "0")


def test_write_table_scans_once(spark, tmp_path, monkeypatch):
    def rescan(df):
        raise AssertionError("write_table re-scanned the table for its checksum")

    monkeypatch.setattr(tables, "table_checksum", rescan)
    m = tables.write_table(spark.range(5), str(tmp_path / "t"), "s")
    assert m["row_count"] == 5


def test_partitioned_write_clusters_one_file_per_partition(spark, tmp_path):
    """Rows are clustered by the partition columns before the partitioned
    write: seven input tasks write one file per ``k=`` directory, not one
    per task and directory."""
    d = str(tmp_path / "t")
    df = _seven_files(spark).selectExpr("*", "id % 5 as k")
    m = tables.write_table(df, d, "s", partition_by=["k"])
    k_dirs = [x for x in os.listdir(d) if x.startswith("k=")]
    files = glob.glob(os.path.join(d, "k=*", "*.parquet"))
    assert len(k_dirs) == 5
    assert sorted(os.path.dirname(f) for f in files) == sorted(
        os.path.join(d, x) for x in k_dirs
    )
    assert (m["row_count"], m["checksum"]) == tables.table_checksum(
        spark.read.parquet(d)
    )
    assert m["data_files"] == len(files)
