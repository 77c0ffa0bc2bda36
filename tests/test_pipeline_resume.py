"""Stage-5/6 gates: end-to-end pipeline at fixture scale, idempotent
resume after partial failure (BASELINE.md "resume idempotency"), and skew
robustness of the salted join (BASELINE.md "skew robustness")."""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from kgforge.fixtures.gen import write_fixture_tables
from kgforge.io import tables
from kgforge.pipeline import run_pipeline
from kgforge.stages.canonicalize import salted_join

N_DOCS = 200


@pytest.fixture(scope="module")
def fixture_paths(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe_fixtures"))
    return write_fixture_tables(spark, out, N_DOCS, partitions=4)


def _table_sig(spark, path):
    return tables.table_checksum(spark.read.parquet(path))


def test_pipeline_end_to_end_and_resume_identical(spark, fixture_paths, tmp_path):
    webdocs_path, alias_path = fixture_paths
    out1 = str(tmp_path / "run1")
    results = run_pipeline(spark, webdocs_path, alias_path, out1)
    assert results["edges"].count() > 0
    assert results["norm_text"].count() == N_DOCS
    # lineage table exists with per-partition rows for every stage
    lineage = spark.read.parquet(os.path.join(out1, "lineage"))
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert stages == {
        "alias_map", "norm_text", "sentences", "triples_raw", "entities", "edges"
    }
    sig_full = {
        s: _table_sig(spark, os.path.join(out1, s)) for s in stages
    }

    # simulate partial failure: wipe the last two stages' outputs, keep the
    # first three committed; resume must rebuild only what's missing and
    # reproduce identical tables (checksums)
    for s in ["entities", "edges"]:
        shutil.rmtree(os.path.join(out1, s))
    run_pipeline(spark, webdocs_path, alias_path, out1, resume=True)
    for s in stages:
        assert _table_sig(spark, os.path.join(out1, s)) == sig_full[s], s


def test_resume_skips_committed_stages(spark, fixture_paths, tmp_path):
    webdocs_path, alias_path = fixture_paths
    out = str(tmp_path / "run2")
    run_pipeline(spark, webdocs_path, alias_path, out)
    # tamper with a committed manifest's mtime marker to detect rewrite
    manifest_file = tables.manifest_path(os.path.join(out, "norm_text"))
    with open(manifest_file) as fh:
        before = json.load(fh)
    run_pipeline(spark, webdocs_path, alias_path, out, resume=True)
    with open(manifest_file) as fh:
        after = json.load(fh)
    assert after["committed_at"] == before["committed_at"]  # not rewritten


def test_resume_rebuilds_partial_uncommitted_write(spark, fixture_paths, tmp_path):
    """A stage directory left WITHOUT a committed manifest (kill mid-write)
    must be rebuilt, not trusted."""
    webdocs_path, alias_path = fixture_paths
    out = str(tmp_path / "run3")
    run_pipeline(spark, webdocs_path, alias_path, out)
    sig = _table_sig(spark, os.path.join(out, "entities"))
    # simulate a torn write: remove the manifest, truncate the data
    ent_dir = os.path.join(out, "entities")
    os.remove(tables.manifest_path(ent_dir))
    for f in os.listdir(ent_dir):
        if f.endswith(".parquet"):
            os.remove(os.path.join(ent_dir, f))
            break
    run_pipeline(spark, webdocs_path, alias_path, out, resume=True)
    assert tables.is_committed(ent_dir, "entities")
    assert _table_sig(spark, ent_dir) == sig


def test_day_partitioned_stages_write_one_file_per_day(
    spark, fixture_paths, tmp_path
):
    """The pipeline's day-partitioned tables hold one file per ``day=``
    directory (rows clustered by day before the write), and the manifest
    records that file count."""
    webdocs_path, alias_path = fixture_paths
    out = str(tmp_path / "run4")
    run_pipeline(spark, webdocs_path, alias_path, out, analytics=True)
    for name in ["edges", "edges_canon_pred"]:
        path = os.path.join(out, name)
        day_dirs = [d for d in os.listdir(path) if d.startswith("day=")]
        assert day_dirs, name
        for d in day_dirs:
            n = len(glob.glob(os.path.join(path, d, "*.parquet")))
            assert n == 1, (name, d, n)
        assert tables.read_manifest(path)["data_files"] == len(day_dirs)


def test_hot_key_present_in_fixture(spark, fixture_paths):
    # the designated hot entity should dominate mentions (~30% of docs)
    webdocs_path, _ = fixture_paths
    docs = spark.read.parquet(webdocs_path)
    from kgforge.fixtures.gen import entity_name

    hot = entity_name(0)
    n_hot = docs.where(F.col("text").contains(hot)).count()
    assert n_hot > N_DOCS * 0.15


def test_salted_join_matches_plain_join(spark):
    big = spark.range(0, 20000).select(
        F.when(F.col("id") % 10 < 3, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 997).cast("string")))
        .alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [("hot", 1)] + [(f"k{i}", i) for i in range(997)], "k string, w int"
    )
    plain = big.join(small, "k").agg(
        F.count("*").alias("n"), F.sum("v").alias("sv"), F.sum("w").alias("sw")
    ).collect()[0]
    salted = salted_join(big, small, "k", salt_buckets=8).agg(
        F.count("*").alias("n"), F.sum("v").alias("sv"), F.sum("w").alias("sw")
    ).collect()[0]
    assert plain == salted
    # per-task input bound (SURVEY §5.2-5): the hot key's rows must spread
    # across salt buckets, so no single (key, salt) group exceeds ~2/K of
    # the hot key's total
    salted_big = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(8)).cast("int"),
    )
    hot_total = big.where("k = 'hot'").count()
    max_group = (
        salted_big.where("k = 'hot'")
        .groupBy("_salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_group <= hot_total * 2 / 8
