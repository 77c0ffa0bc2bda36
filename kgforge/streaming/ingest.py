"""Incremental ingest wrapper (SURVEY.md §2.10).

The reference is batch-only; the engine's incremental path treats newly
arriving ``webdocs`` files as a stream: ``readStream`` on the input
directory (``_webdocs_stream``), ``Trigger.AvailableNow`` (drain everything
present, then stop — idempotent catch-up runs), watermark on ``warc_ts``
for bounded state, and ``foreachBatch`` (``_start_batches``) feeding the
SAME batch stages (normalize → sentences → triples), so streaming and batch
semantics cannot diverge.

Delivery semantics: Structured Streaming's checkpoint makes ``foreachBatch``
*at-least-once* — a crash between the sink write and the checkpoint commit
replays the whole micro-batch on restart. A blind ``append`` would then
duplicate rows, so every batch is written to a deterministic
``batch_id=<id>`` subdirectory in ``overwrite`` mode
(``write_batch_idempotent``): a replay overwrites its own previous output
and the sink is effectively exactly-once for a fixed checkpoint lineage.

Exactly-once state: the three state streams (``stream_upsert_edge_latest``,
``stream_degree_over_time``, ``stream_bgp_view``) MERGE each micro-batch
into standing tables, and all run one protocol, ``_stream_versioned_state``.
State versions are ``<prefix><batch_id>`` parquet dirs under the state dir;
a ``_LATEST`` marker ``{"checkpoint": <lineage id>, "batch_id": <id>}``
names the current one. The lineage id is a uuid minted into the checkpoint
dir (``_checkpoint_identity``), not its path, because a checkpoint recreated
at the same path restarts batch ids. Per batch: read the marker under that
id (``_marker_last_applied``) and skip a batch id ≤ the marker's (a replay
of a merged batch); a marker from another lineage raises, since skipping
(new ids ≤ old pointer) or re-merging (availableNow re-lists all input under
a fresh checkpoint) would corrupt the state. Then write every version the
stream's ``step`` returns with overwrite (a replayed half-written version
clobbers itself), and flip the marker LAST by an fsynced atomic rename
(``_flip_marker``): a crash before the flip leaves the previous version
current and the replay re-applies the batch.

Scale path: these offline stand-ins rewrite the full state per batch; on a
real deployment each merge is an Iceberg/Delta ``MERGE INTO`` on the state's
key columns (the cumulative edge sets are the day-partitioned edge table,
touching only the batch's days), so per-batch IO tracks the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.io.tables import write_durable, write_parquet

WEBDOCS_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def write_batch_idempotent(
    batch_df: DataFrame,
    output_dir: str,
    batch_id: int,
    partition_by: list[str] | None = None,
) -> None:
    """Idempotent micro-batch sink: parquet under ``batch_id=<id>`` with
    overwrite, so an at-least-once replay of the same batch cannot
    duplicate rows. Readers see ``batch_id`` as a discovered partition
    column of ``output_dir``."""
    write_parquet(batch_df, f"{output_dir}/batch_id={batch_id}", partition_by)


def _webdocs_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """The webdocs parquet directory as a stream, watermarked on warc_ts."""
    reader = spark.readStream.schema(WEBDOCS_DDL).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(input_dir).withWatermark("warc_ts", watermark)


def _start_batches(stream: DataFrame, process_batch, checkpoint_dir: str):
    """Start an AvailableNow ``foreachBatch`` query; returns the
    StreamingQuery (caller awaits termination)."""
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _batch_edges(spark: SparkSession, alias_map_path: str, backend: str):
    """Per-batch canonical edges for the edge streams: fused docstream
    (normalize + sentence split + triple extraction) → canonical rewrite
    against the alias map, which is loaded once at stream start."""
    from kgforge.stages.canonicalize import mention_map, rewrite_triples
    from kgforge.stages.docstream import extract_docstream

    mention_ids = mention_map(spark.read.parquet(alias_map_path))

    def edges(batch_df: DataFrame) -> DataFrame:
        return rewrite_triples(extract_docstream(batch_df, backend=backend), mention_ids)

    return edges


def stream_normalize_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    backend: str = "mock",
    max_files_per_trigger: int | None = None,
):
    """Start an AvailableNow stream: input parquet dir → normalized parquet.
    Returns the StreamingQuery (caller awaits termination)."""
    from kgforge.stages.normalize import normalize

    def process_batch(batch_df, batch_id: int):
        write_batch_idempotent(
            normalize(batch_df, backend=backend), output_dir, batch_id
        )

    stream = _webdocs_stream(spark, input_dir, max_files_per_trigger)
    return _start_batches(stream, process_batch, checkpoint_dir)


def stream_extract_edges(
    spark: SparkSession,
    input_dir: str,
    alias_map_path: str,
    output_dir: str,
    checkpoint_dir: str,
    backend: str = "mock",
):
    """Full incremental KG path: newly arrived webdocs → fused docstream
    (normalize + sentence split + triple extraction) → canonical rewrite
    against the precomputed alias map → idempotent batch_id-keyed append to
    the edges table (see module docstring: checkpoint dedups inputs,
    overwrite-per-batch dedups replayed outputs) (SURVEY.md §2.10)."""
    from kgforge.stages.canonicalize import edges_with_day

    batch_edges = _batch_edges(spark, alias_map_path, backend)

    def process_batch(batch_df, batch_id: int):
        edges = edges_with_day(batch_edges(batch_df))
        write_batch_idempotent(edges, output_dir, batch_id, partition_by=["day"])

    stream = _webdocs_stream(spark, input_dir)
    return _start_batches(stream, process_batch, checkpoint_dir)


def _checkpoint_identity(checkpoint_dir: str) -> str:
    """Lineage identity = a uuid minted into the checkpoint dir on first
    use, NOT the directory path: a deleted-and-recreated checkpoint at the
    same path restarts batch ids, gets a fresh uuid, and trips the loud
    mismatch in ``_marker_last_applied`` instead of silently skipping
    every batch (round-4 review pass 2, finding #3)."""
    import os
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    id_file = os.path.join(checkpoint_dir, "kgforge_lineage_id")
    if not os.path.exists(id_file):
        write_durable(id_file, uuid.uuid4().hex)
    with open(id_file) as f:
        return f.read().strip()


def _read_marker(marker: str) -> dict | None:
    """The ``_LATEST`` record (None before the first applied batch). The
    pre-lineage plain-int format is refused: that state cannot be resumed
    safely."""
    import json
    import os

    if not os.path.exists(marker):
        return None
    with open(marker) as f:
        rec = json.load(f)
    if not isinstance(rec, dict):
        raise RuntimeError(
            f"state marker at {marker} uses the legacy plain-int format:"
            " this state predates checkpoint-lineage tracking and cannot"
            " be safely resumed. Start from an empty state dir (or rebuild"
            " from the batch recompute)."
        )
    return rec


def _marker_last_applied(
    marker: str, checkpoint_dir: str, ckpt_identity: str, state_dir: str
) -> int:
    """Read a state-dir ``_LATEST`` marker under the exactly-once lineage
    guard; returns the last applied batch id (-1 when no marker).

    Legacy PATH-format markers (pre-uuid) are accepted ONLY when the
    checkpoint holds the OFFSETS record for the marker's batch id, and are
    then rewritten with the uuid IMMEDIATELY: a path match alone is not
    lineage continuity, since a checkpoint recreated at the same path
    restarts batch ids at 0 and the stale marker would skip every replayed
    batch forever (round-5 ADVICE). Any other identity mismatch raises."""
    import os

    rec = _read_marker(marker)
    if rec is None:
        return -1
    if rec["checkpoint"] == os.path.abspath(checkpoint_dir):
        # witness = offsets/<id>, NOT commits/<id>: Spark writes offsets
        # BEFORE running the batch, so it exists in the crash window where
        # the marker flipped but the commit was never written (the replay
        # the batch_id <= last_applied guard skips). Residual limit: a
        # recreated checkpoint re-run PAST this id against another state
        # dir, then re-pointed here, passes; the uuid written on
        # acceptance closes that for every later run.
        offsets_file = os.path.join(
            checkpoint_dir, "offsets", str(int(rec["batch_id"]))
        )
        if not os.path.exists(offsets_file):
            raise RuntimeError(
                f"state at {state_dir} carries a legacy path-format marker"
                f" for batch {rec['batch_id']} but the checkpoint at"
                f" {checkpoint_dir} has no offsets record for that batch:"
                " the checkpoint was deleted/recreated, so batch ids are"
                " not comparable and the merge cannot be made exactly-once."
                " Keep the original checkpoint dir, or start from an empty"
                " state dir."
            )
        _flip_marker(marker, ckpt_identity, int(rec["batch_id"]))
    elif rec["checkpoint"] != ckpt_identity:
        raise RuntimeError(
            f"state at {state_dir} belongs to checkpoint"
            f" {rec['checkpoint']!r} but this stream uses"
            f" {ckpt_identity!r}: batch ids are not comparable across"
            " checkpoint lineages, so the merge cannot be made"
            " exactly-once. Keep the original checkpoint dir, or start"
            " from an empty state dir."
        )
    return int(rec["batch_id"])


def _flip_marker(marker: str, ckpt_identity: str, batch_id: int) -> None:
    """Atomically and durably point ``_LATEST`` at a committed state
    version — always AFTER the version's data write, so a crash between
    them leaves the previous pointer valid."""
    import json

    write_durable(
        marker, json.dumps({"checkpoint": ckpt_identity, "batch_id": batch_id})
    )


def _stream_versioned_state(
    spark: SparkSession,
    input_dir: str,
    alias_map_path: str,
    state_dir: str,
    checkpoint_dir: str,
    backend: str,
    max_files_per_trigger: int | None,
    step,
):
    """Start a state stream under the module docstring's exactly-once
    protocol. ``step(sess, edges)`` receives one new batch's canonical
    edges and returns ``{prefix: df}``: the next version of each state
    table, written in that order to ``<prefix><batch_id>`` before the
    marker flips."""
    import os

    batch_edges = _batch_edges(spark, alias_map_path, backend)
    stream = _webdocs_stream(spark, input_dir, max_files_per_trigger)
    os.makedirs(state_dir, exist_ok=True)
    ckpt_identity = _checkpoint_identity(checkpoint_dir)
    marker = os.path.join(state_dir, "_LATEST")

    def process_batch(batch_df, batch_id: int):
        last_applied = _marker_last_applied(
            marker, checkpoint_dir, ckpt_identity, state_dir
        )
        if batch_id <= last_applied:
            return  # replay of an already-merged batch — exactly-once skip
        versions = step(batch_df.sparkSession, batch_edges(batch_df))
        for prefix, df in versions.items():
            write_parquet(df, os.path.join(state_dir, f"{prefix}{batch_id}"))
        _flip_marker(marker, ckpt_identity, batch_id)

    return _start_batches(stream, process_batch, checkpoint_dir)


def merge_edge_states(cur: DataFrame | None, batch_agg: DataFrame) -> DataFrame:
    """Combine the standing edge state with one micro-batch's aggregate:
    counts add, the (ts, url) witness takes the struct-max (``greatest``
    skips the null side of the outer join)."""
    if cur is None:
        return batch_agg
    b = batch_agg.select(
        "subj_id",
        "pred",
        "obj_id",
        F.col("n").alias("n_b"),
        F.col("last").alias("last_b"),
    )
    return (
        cur.join(b, ["subj_id", "pred", "obj_id"], "full_outer")
        .select(
            "subj_id",
            "pred",
            "obj_id",
            (
                F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("n_b"), F.lit(0))
            ).alias("n"),
            F.greatest(F.col("last"), F.col("last_b")).alias("last"),
        )
    )


def _read_versioned_state(
    spark: SparkSession, state_dir: str, prefix: str
) -> DataFrame | None:
    """Shared reader for the state streams' versioned tables: the
    ``<prefix><batch_id>`` version the ``_LATEST`` marker names (None
    before the first applied batch)."""
    import os

    rec = _read_marker(os.path.join(state_dir, "_LATEST"))
    if rec is None:
        return None
    return spark.read.parquet(
        os.path.join(state_dir, f"{prefix}{rec['batch_id']}")
    )


def read_edge_latest_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Current compacted edge state (None before the first applied batch).
    Columns: subj_id, pred, obj_id, n, last(ts, url)."""
    return _read_versioned_state(spark, state_dir, "state_v")


def stream_upsert_edge_latest(
    spark: SparkSession,
    input_dir: str,
    alias_map_path: str,
    state_dir: str,
    checkpoint_dir: str,
    backend: str = "mock",
    max_files_per_trigger: int | None = None,
):
    """Incremental LATEST-WINS edge maintenance (§2.10 + the batch
    ``kg_edge_latest`` analog): each micro-batch's canonical edges are
    aggregated by the batch definition (``graph.analytics.edge_latest_state``)
    and MERGED into the per-edge state ``state_v<id>`` (count + latest
    (warc_ts, url) witness) — the serving table a batch job would recompute."""
    from kgforge.graph.analytics import edge_latest_state

    def step(sess, edges):
        cur = read_edge_latest_state(sess, state_dir)
        return {"state_v": merge_edge_states(cur, edge_latest_state(edges))}

    return _stream_versioned_state(
        spark, input_dir, alias_map_path, state_dir, checkpoint_dir,
        backend, max_files_per_trigger, step,
    )


def read_degree_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Current incrementally-maintained (day, node, degree) table (None
    before the first applied batch)."""
    return _read_versioned_state(spark, state_dir, "degree_v")


def _advance_distinct_edges(
    spark: SparkSession,
    state_dir: str,
    prefix: str,
    batch_edges: DataFrame,
    key_cols: list[str],
) -> tuple[DataFrame | None, DataFrame, DataFrame]:
    """Cumulative distinct edge set of the degree and BGP streams:
    anti-join the batch's distinct keys against the standing ``<prefix>``
    version, localCheckpoint that delta (it feeds several joins), and return
    (cur_edges or None on the first batch, new_edges, all_edges)."""
    cur = _read_versioned_state(spark, state_dir, prefix)
    if cur is None:
        new = batch_edges.localCheckpoint()
        return None, new, new
    new = batch_edges.join(cur, key_cols, "left_anti").localCheckpoint()
    return cur, new, cur.unionAll(new)


def stream_degree_over_time(
    spark: SparkSession,
    input_dir: str,
    alias_map_path: str,
    state_dir: str,
    checkpoint_dir: str,
    backend: str = "mock",
    max_files_per_trigger: int | None = None,
):
    """Incremental maintenance of the ``kg_degree_over_time`` table
    (round-4 verdict stretch #10, composing streaming with the analytics
    layer): each micro-batch's canonical edges update a persisted
    per-(day, node) degree table that always equals the batch
    ``graph.temporal.degree_over_time`` recompute over all input so far
    (equivalence asserted in tests/test_stateful_streaming.py).

    Distinct-edge semantics across batches: degree counts DISTINCT
    (day, src, dst) — an edge re-asserted in a later batch must not
    re-count — so the state carries two tables per version: ``edges_v<id>``
    (the cumulative distinct edge set) and ``degree_v<id>``. A batch's
    NEW edges = batch-distinct edges anti-joined against the standing set;
    only their ``endpoint_degree`` (the batch query's own rule) merges into
    the degree table (full outer sum)."""
    from kgforge.graph.analytics import endpoint_degree
    from kgforge.stages.canonicalize import edges_with_day

    def step(sess, edges):
        batch_edges = edges_with_day(edges).select(
            "day", F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
        ).distinct()
        _cur, new_edges, all_edges = _advance_distinct_edges(
            sess, state_dir, "edges_v", batch_edges, ["day", "src", "dst"]
        )
        deg = endpoint_degree(new_edges, "src", "dst", "day")
        cur_deg = read_degree_state(sess, state_dir)
        if cur_deg is not None:
            d = deg.select("day", "node", F.col("degree").alias("degree_b"))
            deg = cur_deg.join(d, ["day", "node"], "full_outer").select(
                "day",
                "node",
                (
                    F.coalesce(F.col("degree"), F.lit(0))
                    + F.coalesce(F.col("degree_b"), F.lit(0))
                ).alias("degree"),
            )
        return {"edges_v": all_edges, "degree_v": deg}

    return _stream_versioned_state(
        spark, input_dir, alias_map_path, state_dir, checkpoint_dir,
        backend, max_files_per_trigger, step,
    )


def stream_windowed_doc_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    late_threshold: str = "2 hours",
):
    """Watermarked tumbling-window doc counts per lang — the standard
    late-data-tolerant streaming aggregate, append-mode output."""
    stream = _webdocs_stream(spark, input_dir, watermark=late_threshold)
    agg = stream.groupBy(
        F.window("warc_ts", window).alias("w"), "lang"
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    flat = agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "lang",
        "n_docs",
    )
    return (
        flat.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def read_bgp_view_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Current incrementally-maintained BGP binding view (None before the
    first applied batch). One string column per pattern variable."""
    return _read_versioned_state(spark, state_dir, "view_v")


def stream_bgp_view(
    spark: SparkSession,
    input_dir: str,
    alias_map_path: str,
    state_dir: str,
    checkpoint_dir: str,
    patterns: list[tuple[str, str, str]],
    backend: str = "mock",
    max_files_per_trigger: int | None = None,
):
    """Incremental maintenance of a MATERIALIZED BGP VIEW (the second
    streaming x serving composition, after ``stream_degree_over_time``):
    for a fixed 2-pattern BGP the persisted binding view always equals
    ``graph.bgp.match_bgp`` recomputed over the cumulative distinct edge
    set (equivalence asserted in tests/test_stateful_streaming.py).

    Incremental-view-maintenance delta rule for a binary join — with
    E = old edges, Δ = this batch's NEW distinct edges (anti-joined
    against the standing set, exactly like the degree stream):

        Δview = P1(Δ) ⋈ P2(E ∪ Δ)  ∪  P1(E) ⋈ P2(Δ)

    (the classic ΔR1 ⋈ R2_new ∪ R1_old ⋈ ΔR2 — Δ⋈Δ lands in the first
    term exactly once). Both terms are single-pattern compilations
    (distinct projections) joined on the shared variables, so each term
    is a set; a final anti-join against the standing view keeps set
    semantics even for patterns whose projection does not determine the
    contributing edge uniquely (variable predicates). Per batch the work
    is Δ-proportional: two keyed joins whose left/right side is the
    batch delta, never a recompute over history. State versions are
    ``bgp_edges_v<id>`` (cumulative distinct edges) and ``view_v<id>``.
    """
    from kgforge.graph.bgp import _check_patterns, _compile_pattern, _is_var

    if len(patterns) != 2:
        raise ValueError(
            "stream_bgp_view maintains a 2-pattern BGP view; got "
            f"{len(patterns)} patterns (compose wider views downstream, "
            "or run match_bgp as a batch query)"
        )
    # reserved-name guard shared with match_bgp; the anchor check is done
    # here (not via _check_patterns' per-pattern mode) so the error names
    # THIS function's contract instead of telling the user to pass a
    # require_anchor escape stream_bgp_view does not accept
    _check_patterns(patterns, require_anchor=False, per_pattern_anchor=True)
    for p in patterns:
        if all(_is_var(t) for t in p):
            raise ValueError(
                f"unanchored pattern {p} scans the full edge table on "
                "every batch; anchor it with a constant (stream_bgp_view "
                "maintains delta-proportional work and offers no "
                "full-scan escape — run match_bgp as a batch query)"
            )
    # variable sets via the same _is_var the compiler uses, so the guard
    # and _compile_pattern can never disagree on what counts as a variable
    probe_vars = [{t[1:] for t in p if _is_var(t)} for p in patterns]
    shared = sorted(probe_vars[0] & probe_vars[1])
    if not shared:
        raise ValueError(
            "the two patterns share no variable — the view would be a "
            "cross product; use match_bgp(allow_product=True) as a batch "
            "query if that is really what you want"
        )

    def _match_pair(left_edges, right_edges):
        """P1(left) ⋈ P2(right) on the shared variables — both sides are
        distinct single-pattern projections, so the join is a set."""
        l, _ = _compile_pattern(left_edges, patterns[0], 0)
        r, _ = _compile_pattern(right_edges, patterns[1], 1)
        return l.join(r, on=shared, how="inner")

    def step(sess, edges):
        batch_edges = edges.select("subj_id", "pred", "obj_id").distinct()
        cur_edges, new_edges, all_edges = _advance_distinct_edges(
            sess, state_dir, "bgp_edges_v", batch_edges,
            ["subj_id", "pred", "obj_id"],
        )
        delta = _match_pair(new_edges, all_edges)
        if cur_edges is not None:
            delta = delta.unionByName(_match_pair(cur_edges, new_edges))
        view = delta.dropDuplicates()
        cur_view = read_bgp_view_state(sess, state_dir)
        if cur_view is not None:
            # NULL-SAFE anti-join (round-5 ADVICE): a binding carrying a
            # NULL value (possible when an alternation pattern's
            # projection is not edge-injective) would never equi-match
            # the standing view and be appended again every batch,
            # breaking set semantics vs match_bgp — eqNullSafe treats
            # NULL = NULL as a match, like the dropDuplicates beside it.
            cond = None
            for c in cur_view.columns:
                e = view[c].eqNullSafe(cur_view[c])
                cond = e if cond is None else (cond & e)
            fresh = view.join(cur_view, on=cond, how="left_anti")
            view = cur_view.unionByName(fresh)
        return {"bgp_edges_v": all_edges, "view_v": view}

    return _stream_versioned_state(
        spark, input_dir, alias_map_path, state_dir, checkpoint_dir,
        backend, max_files_per_trigger, step,
    )
