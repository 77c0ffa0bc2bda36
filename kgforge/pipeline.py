"""End-to-end KG-construction pipeline driver.

webdocs → normalize → sentences → triples_raw → entities (linking) →
canonical edges → partitioned graph table + lineage — every stage writes a
committed table (manifest) and is skipped on re-run if already committed,
making the pipeline resumable after partial failure (north rule:
"resumable from checkpoint with per-partition lineage + metrics").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from kgforge.io import tables
from kgforge.stages.canonicalize import edges_with_day, mention_map, rewrite_triples
from kgforge.stages.extract import sentences, triples
from kgforge.stages.link import alias_resolution, link_with_map, mentions
from kgforge.stages.normalize import normalize

# core stages always materialized by run_pipeline; ANALYTICS_STAGES are
# appended when analytics=True (round-5 ADVICE: keep this constant in sync
# with the stage() calls below — consumers enumerate output tables from it)
STAGES = ["alias_map", "norm_text", "sentences", "triples_raw", "entities", "edges"]
ANALYTICS_STAGES = ["entity_profile", "communities", "edges_canon_pred"]


def run_pipeline(
    spark: SparkSession,
    webdocs_path: str,
    alias_path: str,
    out_dir: str,
    backend: str = "mock",
    resume: bool = True,
    analytics: bool = False,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns the output DataFrames.
    ``analytics=True`` additionally materializes the serving-side graph
    tables (entity profiles, LPA community labels, canonical-predicate
    edges) as resumable stages."""
    os.makedirs(out_dir, exist_ok=True)
    manifests: list[dict] = []
    results: dict[str, DataFrame] = {}

    def stage(name: str, build):
        path = os.path.join(out_dir, name)
        if resume and tables.is_committed(path, name):
            df = spark.read.parquet(path)
            manifests.append(tables.read_manifest(path))
        else:
            df, partition_by = build()
            manifests.append(
                tables.write_table(df, path, name, partition_by=partition_by)
            )
            df = spark.read.parquet(path)
        results[name] = df
        return df

    webdocs = spark.read.parquet(webdocs_path)
    alias_df = spark.read.parquet(alias_path)

    # reference-data prep: dictionary-only, document-independent (recomputed
    # per dictionary version, not per batch)
    alias_map = stage("alias_map", lambda: (alias_resolution(alias_df), None))

    norm = stage("norm_text", lambda: (normalize(webdocs, backend=backend), None))
    sent = stage("sentences", lambda: (sentences(norm), None))
    trip = stage("triples_raw", lambda: (triples(sent), None))
    stage("entities", lambda: (link_with_map(mentions(trip), alias_map), None))
    mention_ids = mention_map(alias_map)
    edges = stage(
        "edges",
        lambda: (edges_with_day(rewrite_triples(trip, mention_ids)), ["day"]),
    )

    if analytics:
        # serving-side graph tables over the materialized edges — full
        # (unordered) shapes; the top-k contract queries present them
        from kgforge.extract.predicates import canonicalize_predicates
        from kgforge.graph.analytics import (
            entity_profile_table,
            label_propagation_labels,
        )

        stage("entity_profile", lambda: (entity_profile_table(edges), None))
        stage("communities", lambda: (label_propagation_labels(edges), None))
        stage(
            "edges_canon_pred",
            lambda: (canonicalize_predicates(edges), ["day"]),
        )

    tables.write_lineage_table(
        spark, manifests, os.path.join(out_dir, "lineage")
    )
    return results
