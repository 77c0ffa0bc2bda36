#!/usr/bin/env python
"""CLI entry for the KG pipeline — the ``spark-submit --py-files`` target.

    spark-submit --py-files kgforge.zip jobs/run_pipeline.py \
        --webdocs <path> --alias <path> --out <dir> [--resume]

Offline/sandbox use generates fixtures first:

    python jobs/run_pipeline.py --sf small --out /tmp/kg_out
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DOCS = {"small": 1_000, "med": 10_000, "large": 100_000}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--webdocs", help="webdocs parquet path")
    ap.add_argument("--alias", help="alias_dict parquet path")
    ap.add_argument("--sf", choices=SF_DOCS, help="generate fixtures at this tier")
    ap.add_argument("--out", default=None, help="output dir")
    ap.add_argument("--backend", default="mock", choices=["mock", "onnx"])
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--analytics",
        action="store_true",
        help="also materialize serving-side graph tables (entity profiles,"
        " LPA communities, canonical-predicate edges)",
    )
    ap.add_argument(
        "--export-ntriples",
        action="store_true",
        help="also export the canonical edge table as W3C N-Triples text"
        " under <out>/edges_nt (triple-store interchange)",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from kgforge.fixtures.gen import write_fixture_tables
    from kgforge.io import tables
    from kgforge.pipeline import run_pipeline
    from kgforge.session import get_spark

    spark = get_spark("kgforge-pipeline", master=args.master)
    out = args.out or tempfile.mkdtemp(prefix="kgforge_out_")

    if args.sf:
        n = SF_DOCS[args.sf]
        fx = os.path.join(out, "fixtures")
        webdocs_path, alias_path = write_fixture_tables(
            spark, fx, n, partitions=max(8, n // 2_000)
        )
        print(f"fixtures: {n} docs -> {fx}")
    else:
        if not (args.webdocs and args.alias):
            ap.error("--webdocs/--alias or --sf required")
        webdocs_path, alias_path = args.webdocs, args.alias

    results = run_pipeline(
        spark, webdocs_path, alias_path, out,
        backend=args.backend, resume=not args.no_resume,
        analytics=args.analytics,
    )
    # the counts come from the stage manifests: no output table is re-read
    manifests = [tables.read_manifest(os.path.join(out, name)) for name in results]
    for m in manifests:
        print(f"{m['stage']:16s} rows={m['row_count']} files={m.get('data_files', '?')}")
    if args.export_ntriples:
        from kgforge.io.ntriples import write_ntriples

        nt_path = os.path.join(out, "edges_nt")
        write_ntriples(results["edges"], nt_path)
        # no count-back: the line count equals the edges row count just
        # printed, and re-scanning the text would double the export I/O
        print(f"edges_nt     -> {nt_path}")
    lineage_rows = sum(len(m["lineage"]) for m in manifests)
    print(f"lineage rows={lineage_rows} (per-partition checkpoints)")
    print(f"output: {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
