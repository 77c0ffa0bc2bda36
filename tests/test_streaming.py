"""Streaming ingest gates: AvailableNow catch-up equals the batch result
(same stages under foreachBatch), incremental arrivals append exactly-once,
watermarked window agg produces closed windows."""

import glob
import os

import pytest

from kgforge.fixtures.gen import write_fixture_tables
from kgforge.streaming.ingest import (
    stream_normalize_to_parquet,
    stream_windowed_doc_counts,
)

N_DOCS = 120


@pytest.fixture()
def stream_dirs(spark, tmp_path):
    src = str(tmp_path / "in")
    fx = str(tmp_path / "fx")
    webdocs_path, _ = write_fixture_tables(spark, fx, N_DOCS, partitions=2)
    os.makedirs(src)
    # stage the first half of the parquet files as the initial arrival
    files = sorted(glob.glob(os.path.join(webdocs_path, "*.parquet")))
    assert len(files) >= 2
    half = len(files) // 2
    for f in files[:half]:
        os.link(f, os.path.join(src, os.path.basename(f)))
    return src, files[half:], str(tmp_path / "out"), str(tmp_path / "ckpt")


def test_available_now_matches_batch_and_appends_incrementally(
    spark, stream_dirs
):
    src, later_files, out, ckpt = stream_dirs
    q = stream_normalize_to_parquet(spark, src, out, ckpt)
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    n_first = first.count()
    assert n_first > 0
    from kgforge.stages.normalize import normalize

    batch_equiv = normalize(spark.read.parquet(src)).count()
    assert n_first == batch_equiv

    # new files arrive; a second AvailableNow run drains ONLY the new ones
    for f in later_files:
        os.link(f, os.path.join(src, os.path.basename(f)))
    q2 = stream_normalize_to_parquet(spark, src, out, ckpt)
    q2.awaitTermination(120)
    total = spark.read.parquet(out)
    assert total.count() == N_DOCS
    assert total.select("url").distinct().count() == N_DOCS  # exactly-once

    # third run with nothing new: no duplicates
    q3 = stream_normalize_to_parquet(spark, src, out, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == N_DOCS


def test_stream_extract_edges_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from kgforge.stages.canonicalize import rewrite_triples
    from kgforge.stages.docstream import extract_docstream
    from kgforge.stages.link import alias_resolution
    from kgforge.streaming.ingest import stream_extract_edges

    fx = str(tmp_path / "fx3")
    webdocs_path, alias_path = write_fixture_tables(spark, fx, 80, partitions=2)
    amap_path = str(tmp_path / "alias_map")
    alias_resolution(spark.read.parquet(alias_path)).write.parquet(amap_path)

    out, ckpt = str(tmp_path / "edges"), str(tmp_path / "eckpt")
    q = stream_extract_edges(spark, webdocs_path, amap_path, out, ckpt)
    q.awaitTermination(180)
    got = spark.read.parquet(out)

    mention_map = spark.read.parquet(amap_path).select(
        F.col("alias").alias("mention"), "canon_id"
    )
    want = rewrite_triples(
        extract_docstream(spark.read.parquet(webdocs_path)), mention_map
    )
    assert got.count() == want.count()
    cols = ["subj_id", "pred", "obj_id", "url"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )
    # second drain with no new files: nothing appended
    q2 = stream_extract_edges(spark, webdocs_path, amap_path, out, ckpt)
    q2.awaitTermination(180)
    assert spark.read.parquet(out).count() == want.count()


def test_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between sink write and
    checkpoint commit replays the micro-batch. The batch_id-keyed
    overwrite sink must absorb the replay without duplicating rows."""
    from kgforge.streaming.ingest import write_batch_idempotent

    df = spark.range(50).selectExpr("id", "id * 2 AS v")
    out = str(tmp_path / "idem")
    write_batch_idempotent(df, out, batch_id=3)
    write_batch_idempotent(df, out, batch_id=3)  # simulated replay
    got = spark.read.parquet(out)
    assert got.count() == 50
    assert got.select("id").distinct().count() == 50
    assert set(got.columns) == {"id", "v", "batch_id"}


def test_batch_sink_writes_one_file_per_day(spark, tmp_path):
    """A partitioned micro-batch is clustered by day before the write: a
    multi-task batch writes one file per ``day=`` directory."""
    from kgforge.streaming.ingest import write_batch_idempotent

    df = spark.range(60).selectExpr("id", "id % 6 AS day").repartition(5)
    out = str(tmp_path / "by_day")
    write_batch_idempotent(df, out, 0, partition_by=["day"])
    day_dirs = glob.glob(os.path.join(out, "batch_id=0", "day=*"))
    assert len(day_dirs) == 6
    for d in day_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    assert spark.read.parquet(out).count() == 60


def test_windowed_counts(spark, tmp_path):
    fx = str(tmp_path / "fx2")
    webdocs_path, _ = write_fixture_tables(spark, fx, 80, partitions=2)
    out, ckpt = str(tmp_path / "wout"), str(tmp_path / "wckpt")
    q = stream_windowed_doc_counts(spark, webdocs_path, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.columns == ["window_start", "window_end", "lang", "n_docs"]
    # append mode emits only watermark-closed windows; fixture spans 90 days
    # so nearly all windows close
    assert got.count() > 0


def test_stream_upsert_edge_latest_matches_batch_and_is_replay_safe(
    spark, tmp_path
):
    """The incrementally-maintained latest-wins edge state (multi-batch
    merge) must equal the batch aggregation over all docs; a catch-up run
    on the SAME checkpoint leaves it unchanged; newly arriving files merge
    incrementally to the grown batch result; and a run against a DIFFERENT
    checkpoint lineage fails loudly (batch ids are not comparable across
    lineages — round-4 review finding #2)."""
    import hashlib

    from pyspark.sql import functions as F

    from kgforge.stages.canonicalize import rewrite_triples
    from kgforge.stages.docstream import extract_docstream
    from kgforge.stages.link import alias_resolution
    from kgforge.streaming.ingest import (
        read_edge_latest_state,
        stream_upsert_edge_latest,
    )

    fx = str(tmp_path / "fx4")
    webdocs_path, alias_path = write_fixture_tables(spark, fx, 80, partitions=3)
    amap_path = str(tmp_path / "alias_map4")
    alias_resolution(spark.read.parquet(alias_path)).write.parquet(amap_path)

    state, ckpt = str(tmp_path / "estate"), str(tmp_path / "eckpt4")
    q = stream_upsert_edge_latest(
        spark, webdocs_path, amap_path, state, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(180)
    # multiple micro-batches actually merged
    versions = [d for d in os.listdir(state) if d.startswith("state_v")]
    assert len(versions) >= 2

    def rows(df):
        return sorted(
            (r["subj_id"], r["pred"], r["obj_id"], r["n"],
             r["last"]["ts"], r["last"]["url"])
            for r in df.collect()
        )

    def batch_rows(src_path):
        mention_map = spark.read.parquet(amap_path).select(
            F.col("alias").alias("mention"), "canon_id"
        )
        return rows(
            rewrite_triples(
                extract_docstream(spark.read.parquet(src_path)), mention_map
            )
            .groupBy("subj_id", "pred", "obj_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(
                    F.struct(F.col("warc_ts").cast("long").alias("ts"), F.col("url"))
                ).alias("last"),
            )
        )

    got = rows(read_edge_latest_state(spark, state))
    assert got == batch_rows(webdocs_path)
    assert len(got) > 0

    # catch-up on the SAME checkpoint with no new input: zero batches fire,
    # the state is bit-unchanged
    state_digest = hashlib.md5(repr(got).encode()).hexdigest()
    q2 = stream_upsert_edge_latest(
        spark, webdocs_path, amap_path, state, ckpt, max_files_per_trigger=1
    )
    q2.awaitTermination(180)
    replayed = rows(read_edge_latest_state(spark, state))
    assert hashlib.md5(repr(replayed).encode()).hexdigest() == state_digest

    # new files arrive: the same-checkpoint catch-up merges ONLY them, and
    # the state equals the batch aggregation over the grown input
    fx2 = str(tmp_path / "fx4b")
    more_path, _ = write_fixture_tables(spark, fx2, 40, partitions=1)
    # grow the SAME source dir the stream watches (a 40-doc re-crawl whose
    # urls overlap the original 80 — the latest-wins merge handles it)
    for i, f in enumerate(glob.glob(os.path.join(more_path, "*.parquet"))):
        os.link(f, os.path.join(webdocs_path, f"extra_{i}.parquet"))
    q3 = stream_upsert_edge_latest(
        spark, webdocs_path, amap_path, state, ckpt, max_files_per_trigger=1
    )
    q3.awaitTermination(180)
    assert rows(read_edge_latest_state(spark, state)) == batch_rows(webdocs_path)

    # a DIFFERENT checkpoint lineage against the same state must refuse —
    # silently skipping (ids <= pointer) or re-merging would corrupt it
    q4 = stream_upsert_edge_latest(
        spark, webdocs_path, amap_path, state, str(tmp_path / "eckpt4b"),
        max_files_per_trigger=1,
    )
    with pytest.raises(Exception, match="checkpoint"):
        q4.awaitTermination(180)
        raise AssertionError("cross-lineage run should have failed")


def test_legacy_path_marker_migration_and_corruption_guard(spark, tmp_path):
    """Legacy path-format state markers (round-4's pre-uuid format) are
    accepted ONLY when the checkpoint really contains the commit record
    for the marker's batch id, and are rewritten with the uuid lineage id
    immediately on acceptance; a legacy marker pointing at a batch the
    checkpoint never committed (deleted/recreated checkpoint) fails loudly
    instead of silently skipping every replayed batch (round-5 ADVICE)."""
    import json

    from pyspark.sql import functions as F

    from kgforge.stages.link import alias_resolution
    from kgforge.streaming.ingest import (
        read_edge_latest_state,
        stream_upsert_edge_latest,
    )

    fx = str(tmp_path / "fx5")
    webdocs_path, alias_path = write_fixture_tables(spark, fx, 60, partitions=2)
    amap_path = str(tmp_path / "alias_map5")
    alias_resolution(spark.read.parquet(alias_path)).write.parquet(amap_path)

    state, ckpt = str(tmp_path / "lstate"), str(tmp_path / "lckpt")
    q = stream_upsert_edge_latest(
        spark, webdocs_path, amap_path, state, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(180)
    marker = os.path.join(state, "_LATEST")
    rec = json.loads(open(marker).read())
    uuid_id = open(os.path.join(ckpt, "kgforge_lineage_id")).read().strip()
    assert rec["checkpoint"] == uuid_id
    before = sorted(
        (r["subj_id"], r["pred"], r["obj_id"], r["n"])
        for r in read_edge_latest_state(spark, state).collect()
    )

    # rewrite the marker to the legacy PATH format, then trigger one more
    # batch: the migration branch must verify commits/<id> exists, accept,
    # merge the new batch, and the marker must carry the uuid again
    with open(marker, "w") as f:
        json.dump(
            {"checkpoint": os.path.abspath(ckpt), "batch_id": rec["batch_id"]}, f
        )
    fx2 = str(tmp_path / "fx5b")
    more_path, _ = write_fixture_tables(spark, fx2, 20, partitions=1)
    for i, f in enumerate(glob.glob(os.path.join(more_path, "*.parquet"))):
        os.link(f, os.path.join(webdocs_path, f"legacy_extra_{i}.parquet"))
    q2 = stream_upsert_edge_latest(
        spark, webdocs_path, amap_path, state, ckpt, max_files_per_trigger=1
    )
    q2.awaitTermination(180)
    rec2 = json.loads(open(marker).read())
    assert rec2["checkpoint"] == uuid_id  # migrated, not left as a path
    assert rec2["batch_id"] > rec["batch_id"]
    after = sorted(
        (r["subj_id"], r["pred"], r["obj_id"], r["n"])
        for r in read_edge_latest_state(spark, state).collect()
    )
    assert after != before  # the post-migration batch actually merged

    # corruption case: a legacy path marker whose batch id has NO offsets
    # record in the checkpoint (the deleted-and-recreated scenario) must
    # refuse loudly rather than skip replayed batches
    with open(marker, "w") as f:
        json.dump({"checkpoint": os.path.abspath(ckpt), "batch_id": 9999}, f)
    fx3 = str(tmp_path / "fx5c")
    more2, _ = write_fixture_tables(spark, fx3, 20, partitions=1)
    for i, f in enumerate(glob.glob(os.path.join(more2, "*.parquet"))):
        os.link(f, os.path.join(webdocs_path, f"legacy_extra2_{i}.parquet"))
    q3 = stream_upsert_edge_latest(
        spark, webdocs_path, amap_path, state, ckpt, max_files_per_trigger=1
    )
    with pytest.raises(Exception, match="no offsets record"):
        q3.awaitTermination(180)
        raise AssertionError("corrupted-lineage migration should have failed")


def test_marker_guard_accepts_crash_window_refuses_recreated(tmp_path):
    """Unit gate on the lineage-guard helper (round-5 review finding #3):
    a legacy path-format marker for batch N must be ACCEPTED when the
    checkpoint's offsets/N exists even though commits/N does not — that is
    the crash window where foreachBatch flipped the marker and the process
    died before Spark's checkpoint commit (the replay guard then skips the
    batch) — and refused when offsets/N is also absent (checkpoint deleted
    and recreated; batch ids restart, skipping would corrupt)."""
    import json

    from kgforge.streaming.ingest import (
        _checkpoint_identity,
        _marker_last_applied,
    )

    ckpt = tmp_path / "ck"
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "commits").mkdir()
    (ckpt / "offsets" / "3").write_text("{}")  # written BEFORE batch 3 ran
    # commits/3 deliberately absent — the crash window
    ident = _checkpoint_identity(str(ckpt))
    state = tmp_path / "st"
    state.mkdir()
    marker = state / "_LATEST"
    marker.write_text(
        json.dumps({"checkpoint": str(ckpt.resolve()), "batch_id": 3})
    )
    assert _marker_last_applied(str(marker), str(ckpt), ident, str(state)) == 3
    # marker rewritten with the uuid IMMEDIATELY on acceptance
    assert json.loads(marker.read_text())["checkpoint"] == ident

    # recreated checkpoint: marker for batch 5 but no offsets/5 → refuse
    marker.write_text(
        json.dumps({"checkpoint": str(ckpt.resolve()), "batch_id": 5})
    )
    with pytest.raises(RuntimeError, match="no offsets record"):
        _marker_last_applied(str(marker), str(ckpt), ident, str(state))
