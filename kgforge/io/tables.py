"""Table writer abstraction + per-partition lineage and idempotent resume.

Offline emulation of an Iceberg-style committed table (SURVEY.md env
constraints): each stage output is a partitioned Parquet directory whose
write is made atomic-by-manifest — data lands first, then a
``_kgforge_manifest.json`` records stage name, row count, per-partition
lineage (partition_id, rows, order-insensitive checksum) and marks the
table committed. A stage whose manifest is present and committed is
skipped on re-run and its output re-read (resume = anti-join of pending
work against completed lineage, SURVEY.md §4.3-4).

Every other Parquet write of stage data goes through ``write_parquet``,
which clusters rows by the partition columns before ``partitionBy``: a
day-partitioned table holds one file per ``day=`` directory, not one per
input task and day. The manifest records the table's ``data_files`` so a
regression to the tasks × days layout shows in every run.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "_kgforge_manifest.json"

LINEAGE_SCHEMA = (
    "stage string, partition_id int, output_rows long, checksum string, "
    "ts double"
)


def partition_lineage(df: DataFrame, stage: str) -> list[dict]:
    """Per-partition row counts + order-insensitive checksums, computed in
    one distributed aggregation (no collect of data rows)."""
    cols = [F.col(c).cast("string") for c in df.columns]
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("output_rows"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("checksum"),
        )
        .collect()
    )
    now = time.time()
    return [
        {
            "stage": stage,
            "partition_id": int(r["partition_id"]),
            "output_rows": int(r["output_rows"]),
            "checksum": str(r["checksum"]),
            "ts": now,
        }
        for r in rows
    ]


def table_checksum(df: DataFrame) -> tuple[int, str]:
    """(row_count, order-insensitive checksum) over the whole table: the
    reference for the sums ``write_table`` derives from the lineage."""
    cols = [F.col(c).cast("string") for c in df.columns]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST_NAME)


def is_committed(path: str, stage: str | None = None) -> bool:
    mp = manifest_path(path)
    if not os.path.exists(mp):
        return False
    try:
        with open(mp) as fh:
            m = json.load(fh)
    except (json.JSONDecodeError, OSError):
        # torn manifest write (crash mid-dump) = not committed; the stage
        # rebuilds and overwrites it
        return False
    return m.get("status") == "committed" and (stage is None or m.get("stage") == stage)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Overwrite ``path`` with ``df`` as Parquet, partitioned by
    ``partition_by`` when given."""
    writer = df.write
    if partition_by:
        # cluster rows by the partition columns BEFORE the partitioned
        # write: without this every input task writes a file into every
        # partition directory (tasks × days small files — a metadata bomb
        # at crawl scale); one shuffle bounds the file count to one per
        # directory (AQE coalesces small days). On a real deployment with
        # giant days, add a second split key:
        # repartition("day", pmod(xxhash64(subj_id), N)).
        writer = df.repartition(*partition_by).write.partitionBy(*partition_by)
    writer.mode("overwrite").parquet(path)


def write_table(
    df: DataFrame,
    path: str,
    stage: str,
    partition_by: list[str] | None = None,
) -> dict:
    """Write + commit a stage output table; returns the manifest dict."""
    write_parquet(df, path, partition_by)
    data_df = df.sparkSession.read.parquet(path)
    # one post-write scan: the table's count and checksum are the sums of
    # its per-partition ones (an empty table has no partitions: 0, "0")
    lineage = partition_lineage(data_df, stage)
    manifest = {
        "stage": stage,
        "status": "committed",
        "path": path,
        "row_count": sum(e["output_rows"] for e in lineage),
        "checksum": str(sum(int(e["checksum"]) for e in lineage)),
        "partition_by": partition_by or [],
        "data_files": len(data_df.inputFiles()),
        "lineage": lineage,
        "committed_at": time.time(),
    }
    commit_manifest(path, manifest)
    return manifest


def write_durable(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` atomically and durably: write a
    sibling temp file, fsync it, then rename it over ``path``. A crash
    never leaves a half-written file at ``path``, and the bytes are on
    disk before the rename points ``path`` at them."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def commit_manifest(path: str, manifest: dict) -> None:
    """Manifest commit through ``write_durable``, so a crash mid-dump
    never leaves a half-written manifest that reads as committed. Shared
    by write_table and the incremental N-Triples exporter."""
    write_durable(manifest_path(path), json.dumps(manifest, indent=1))


def read_manifest(path: str) -> dict:
    with open(manifest_path(path)) as fh:
        return json.load(fh)


def write_lineage_table(spark: SparkSession, manifests: list[dict], path: str):
    """Flatten stage manifests into the queryable ``lineage`` table."""
    entries = [e for m in manifests for e in m.get("lineage", [])]
    cols = [c.split()[0] for c in LINEAGE_SCHEMA.split(",")]
    # Arrow, not a list of tuples: a list-built frame runs every read
    # through Python workers
    table = pa.table({c: [e[c] for e in entries] for c in cols})
    # tens of rows: one file, not one per createDataFrame slice
    write_parquet(spark.createDataFrame(table, LINEAGE_SCHEMA).coalesce(1), path)
