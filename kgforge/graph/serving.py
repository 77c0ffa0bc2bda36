"""One materialised snapshot per committed edge-table version, shared by
the serving calls that repeat over it.

A serving process holds one read of the edge table and answers many
``match_bgp`` / ``reachable_from`` calls over it. Each call would
otherwise rescan the same files: a full scan of a 90-file
day-partitioned table costs about three times the same filter +
distinct over a checkpoint of it. ``serving_edges`` resolves an edges
frame, at every public entry point that takes one, to:

* the frame itself on its FIRST sighting — one-shot callers (contract
  queries, a windowed read, tests) run today's plan and pay nothing;
* from the SECOND sighting of the same version on, its distinct
  ``(subj_id, pred, obj_id)`` set, ``localCheckpoint``ed once.

The snapshot is a SET, and its readers rely on that: ``graph.bgp``
compiles a pattern over it without the per-pattern ``dropDuplicates``
(unless the pattern has an alternation term), and a caller tells the
snapshot from a first sighting by identity (``serving_edges(e) is not
e``). ``reachable_from`` does not need it: its per-hop least-distance
aggregate drops repeated pairs either way.

A version is the frame's plan (``semanticHash``, confirmed with
``sameSemantics``), its listed files (``inputFiles()``) and its
SparkSession. The file list is part of the key because a rewritten path
keeps the plan: a fresh read of a rewritten table has equal plan
semantics but new file names, so it is a new version, and the old
version's snapshot is released. A frame that lists no files (a
checkpoint, ``createDataFrame``, a streaming frame) has no version and
always passes through.

A repeat call is cheap on the gateway. The file list crosses it as one
joined string (PySpark's ``inputFiles()`` fetches the JVM array element
by element, about two round trips a file), and a frame OBJECT already
keyed to a version whose listed files are unchanged skips
``semanticHash()`` and ``sameSemantics()``: one object has one plan.
The files are still compared on every call, because one object's file
index can re-list: ``refreshByPath`` or a write to the path refreshes
every index held by a cached plan, and a frame derived from ``edges``
and cached shares ``edges``'s index.

``localCheckpoint`` rather than ``cache()``: the checkpointed scan
reports no partitioning, so join planning over it is unchanged, and it
is not registered in Spark's CacheManager, which would match a fresh
read of a rewritten path against the old cached plan and serve the old
rows.

A small version is one partition. Both per-version frames, the
snapshot and ``committed_read``'s read, go through
``one_partition_if_small`` once per version: the frame is
``coalesce(1)``ed, and the planner sees ``SinglePartition``, when one
task already holds it (a checkpoint of one partition) or when its
optimizer size estimate (``optimizedPlan().stats().sizeInBytes``: the
parquet bytes on disk times the share of the row the frame projects)
is at most ``ONE_TASK_BYTES``. Over it, ``reachable_from``'s per-hop
``min(hops)`` aggregates, BGP alternation dedups, the NOT EXISTS
distinct, the UNION dedup and a window's count + top-k plan no
exchange: a 4-hop reach runs 2 jobs instead of 5, a window 1 instead of
2, and each job saved is a stage launch and its closure cleaning.

The cost is map-side parallelism. A ``coalesce(1)`` without a shuffle
runs the whole stage above it in one task: for the committed read the
parquet scan, decode and day filter, for the snapshot the checkpoint
read, filters, broadcast-join probe and partial aggregate. A checkpoint
of one partition was read by one task anyway, so only its stage
boundaries go. For a frame of more partitions ``ONE_TASK_BYTES`` bounds
the cost. It was measured on a 4-vCPU host, in ``bench.py``'s session
at ``local[4]`` and ``local[16]``, over row samples (6k to 963k edges)
of the 300k-doc bench edge table, one-task frame against partitioned
frame, interleaved (BENCH.md): up to a 3.2 MB snapshot and a 4.7 MB
read one task tied or won in every serving class (4-hop reach 23-31%
faster, window 14-37%), at a 5.7 MB snapshot an unanchored 2-pattern
BGP ran 20-24% slower in one task, and at 17-25 MB every class was
slower. The bound lies between. Filters still push below the
``Coalesce``, so a window keeps its day ``PartitionFilters``. A version
above the bound, of more than one partition, keeps its partitions and
its plans.

The table keeps ``SNAPSHOTS`` versions, least recently used first out.
An evicted or superseded version only loses the table's reference: a
lazy result built over its snapshot may still be collected, and Spark's
ContextCleaner unpersists the checkpointed RDD once no DataFrame holds
it (on the JVM's next garbage collection).

Windowed reads (``temporal.window_subgraph_topk``,
``temporal.window_edge_diff_topk``, ``bgp.match_bgp_window``) take a
path, not a frame, and filter the read by day on every call, so they
never reach a snapshot. ``committed_read`` gives them one
``spark.read.parquet(path)`` frame per committed version instead: its
file index holds the listing and the inferred schema, so a repeated
window call neither relists the table nor re-infers its schema. The key
is the session, the path and the committed manifest's ``(committed_at,
checksum)``. A path with no committed manifest is read fresh on every
call, and a ``write_table`` overwrite deletes the manifest before it
writes, so a rewritten table is never served from its old listing.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession

from kgforge.io.tables import read_manifest

SNAPSHOTS = 4  # versions kept (LRU); a constant, not an option
# size estimate up to which a per-version frame runs in one task (module
# docstring); a constant, not an option
ONE_TASK_BYTES = 4 << 20
_COLS = ("subj_id", "pred", "obj_id")


@dataclass
class _Version:
    frame: DataFrame  # the first frame seen: its plan and session are the key
    plan_hash: int
    files: tuple[str, ...]
    snapshot: DataFrame | None = None


_lock = threading.Lock()
_versions: list[_Version] = []  # least recently used first
# committed_read's frames: (session, path, (committed_at, checksum), frame),
# least recently used first
_reads: list[tuple[SparkSession, str, tuple, DataFrame]] = []


def serving_edges(edges: DataFrame) -> DataFrame:
    """``edges`` on the first sighting of its table version, the
    version's shared distinct ``(subj_id, pred, obj_id)`` snapshot from
    the second on (see the module docstring for the key, the cheap
    repeat call and the release rule)."""
    if edges.isStreaming or not set(_COLS) <= set(edges.columns):
        return edges
    files = _listed_files(edges)
    if not files:
        return edges
    with _lock:
        v = next((v for v in _versions if v.frame is edges), None)
        if v is None:
            plan_hash, spark = edges.semanticHash(), edges.sparkSession
            v = next(
                (
                    v
                    for v in _versions
                    if v.frame.sparkSession is spark
                    and v.plan_hash == plan_hash
                    and v.frame.sameSemantics(edges)
                ),
                None,
            )
            if v is None:
                _versions.append(_Version(edges, plan_hash, files))
                del _versions[:-SNAPSHOTS]
                return edges
        _versions.remove(v)
        _versions.append(v)
        if v.files != files:  # the table was rewritten: a new version
            v.frame, v.files, v.snapshot = edges, files, None
            return edges
        if v.snapshot is None:
            v.snapshot = one_partition_if_small(
                v.frame.select(*_COLS).dropDuplicates().localCheckpoint()
            )
        return v.snapshot


def _listed_files(edges: DataFrame) -> tuple[str, ...]:
    """``edges.inputFiles()``, sorted, in three gateway round trips.
    File URIs escape a newline, so it separates them."""
    client = edges.sparkSession._sc._gateway._gateway_client
    listed = JavaClass("org.apache.hadoop.util.StringUtils", client).join(
        "\n", edges._jdf.inputFiles()
    )
    return tuple(sorted(listed.split("\n"))) if listed else ()


def one_partition_if_small(frame: DataFrame) -> DataFrame:
    """``frame.coalesce(1)`` when its size estimate is at most
    ``ONE_TASK_BYTES`` or it already is one partition, else ``frame``
    (see the module docstring)."""
    size = frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if size <= ONE_TASK_BYTES or frame._jdf.rdd().getNumPartitions() == 1:
        return frame.coalesce(1)
    return frame


def committed_read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, one frame per committed version of
    the table at ``path`` in ``spark`` (see the module docstring); a
    path with no committed manifest is read fresh."""
    try:
        m = read_manifest(path)
    except (OSError, ValueError):  # no manifest, or a torn one
        return spark.read.parquet(path)
    if m.get("status") != "committed":
        return spark.read.parquet(path)
    version = (m.get("committed_at"), m.get("checksum"))
    with _lock:
        # at most one entry per (session, path): a new version supersedes it
        hit = next((r for r in _reads if r[0] is spark and r[1] == path), None)
        if hit is not None:
            _reads.remove(hit)
        if hit is None or hit[2] != version:
            read = one_partition_if_small(spark.read.parquet(path))
            hit = (spark, path, version, read)
        _reads.append(hit)
        del _reads[:-SNAPSHOTS]
        return hit[3]
