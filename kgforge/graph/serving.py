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

``localCheckpoint`` rather than ``cache()``: the checkpointed scan
reports no partitioning, so join planning over it is unchanged, and it
is not registered in Spark's CacheManager, which would match a fresh
read of a rewritten path against the old cached plan and serve the old
rows.

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

from pyspark.sql import DataFrame, SparkSession

from kgforge.io.tables import read_manifest

SNAPSHOTS = 4  # versions kept (LRU); a constant, not an option
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
    the second on (see the module docstring for the key and the release
    rule)."""
    if edges.isStreaming or not set(_COLS) <= set(edges.columns):
        return edges
    files = tuple(sorted(edges.inputFiles()))
    if not files:
        return edges
    plan_hash = edges.semanticHash()
    spark = edges.sparkSession
    with _lock:
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
            v.snapshot = edges.select(*_COLS).dropDuplicates().localCheckpoint()
        return v.snapshot


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
            hit = (spark, path, version, spark.read.parquet(path))
        _reads.append(hit)
        del _reads[:-SNAPSHOTS]
        return hit[3]
