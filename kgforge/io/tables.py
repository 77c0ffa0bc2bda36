"""Table writer abstraction + per-partition lineage and idempotent resume.

Offline emulation of an Iceberg-style committed table (SURVEY.md env
constraints): each stage output is a partitioned Parquet directory whose
write is made atomic-by-manifest — data lands first, then a
``_kgforge_manifest.json`` records stage name, row count, per-partition
lineage (partition_id, rows, order-insensitive checksum) and marks the
table committed. A stage whose manifest is present and committed is
skipped on re-run and its output re-read (resume = anti-join of pending
work against completed lineage, SURVEY.md §4.3-4). When an Iceberg catalog
is configured (``spark.sql.catalog.*`` with the runtime jar on a real
cluster), ``use_iceberg=True`` routes through ``writeTo().partitionedBy``
instead — same call sites, no engine changes.
"""

from __future__ import annotations

import json
import os
import time

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
    """(row_count, order-insensitive checksum) over the whole table."""
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


def write_table(
    df: DataFrame,
    path: str,
    stage: str,
    partition_by: list[str] | None = None,
    use_iceberg: bool = False,
    collect_lineage: bool = True,
) -> dict:
    """Write + commit a stage output table; returns the manifest dict."""
    if use_iceberg:  # pragma: no cover - needs the Iceberg runtime jar
        writer = df.writeTo(path)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        data_df = df.sparkSession.read.format("iceberg").load(path)
    else:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        data_df = df.sparkSession.read.parquet(path)
    n, checksum = table_checksum(data_df)
    manifest = {
        "stage": stage,
        "status": "committed",
        "path": path,
        "row_count": n,
        "checksum": checksum,
        "partition_by": partition_by or [],
        "lineage": partition_lineage(data_df, stage) if collect_lineage else [],
        "committed_at": time.time(),
    }
    commit_manifest(path, manifest)
    return manifest


def commit_manifest(path: str, manifest: dict) -> None:
    """Atomic manifest commit: write-then-rename so a crash mid-dump
    never leaves a half-written manifest that reads as committed. Shared
    by write_table and the incremental N-Triples exporter."""
    mp = manifest_path(path)
    tmp = mp + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, mp)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_manifest(path: str) -> dict:
    with open(manifest_path(path)) as fh:
        return json.load(fh)


def write_lineage_table(spark: SparkSession, manifests: list[dict], path: str):
    """Flatten stage manifests into the queryable ``lineage`` table."""
    rows = []
    for m in manifests:
        for entry in m.get("lineage", []):
            rows.append(
                (
                    entry["stage"],
                    entry["partition_id"],
                    entry["output_rows"],
                    entry["checksum"],
                    entry["ts"],
                )
            )
    spark.createDataFrame(rows, LINEAGE_SCHEMA).write.mode("overwrite").parquet(path)
