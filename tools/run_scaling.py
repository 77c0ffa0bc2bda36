#!/usr/bin/env python
"""Scaling bench: identical input at two parallelism levels (sandbox
stand-in for N vs 4N executor clusters per the north rule); reports
throughput at both levels + scaling efficiency and appends the table to
BENCH.md. Each level is one ``bench.py kg_refdata kg_docstream`` run in
its own subprocess (a JVM's master is fixed at startup) on one shared
fixture, which the first run generates."""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=300000)
    ap.add_argument(
        "--levels",
        default="2,8",
        help="core counts; 2,8 keeps both configs below the single-host "
        "memory-bandwidth ceiling (truer stand-in for adding executors); "
        "8,32 also supported",
    )
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument(
        "--fixture-dir", default=None, help="reuse its fixture, or generate one there"
    )
    ap.add_argument("--out-md", default=os.path.join(REPO, "BENCH.md"))
    args = ap.parse_args()

    fx = args.fixture_dir or tempfile.mkdtemp(prefix="kgforge_scaling_")
    levels = [int(c) for c in args.levels.split(",")]
    best: dict[int, dict] = {}
    # interleave repeats (8,32,8,32,...) and keep the best run per level —
    # damps transient host-load noise in the shared sandbox
    for _ in range(args.repeats):
        for cores in levels:
            proc = subprocess.run(
                [
                    sys.executable,
                    os.path.join(REPO, "bench.py"),
                    "kg_refdata",
                    "kg_docstream",
                    "--fixture",
                    fx,
                ],
                env={
                    **os.environ,
                    "SPARK_GRAFT_CPUS": str(cores),
                    "KGFORGE_BENCH_DOCS": str(args.docs),
                },
                capture_output=True,
                text=True,
            )
            if proc.returncode != 0:
                # surface the worker's own error (check=True swallowed it:
                # a repeat-2 worker crash left nothing to diagnose)
                sys.stderr.write(proc.stderr[-4000:] + "\n")
                raise SystemExit(
                    f"bench.py at local[{cores}] failed (rc={proc.returncode})"
                )
            out = json.loads(proc.stdout.splitlines()[-1])
            elapsed = out["min"]["kg_docstream"]
            r = {
                "cores": cores,
                "n_docs": out["docs"],
                "n_edges": out["results"]["kg_docstream"],
                "elapsed_sec": elapsed,
                "docs_per_sec": round(out["docs"] / elapsed, 2),
                "phases": out["min"],
            }
            print(json.dumps(r))
            if cores not in best or r["elapsed_sec"] < best[cores]["elapsed_sec"]:
                best[cores] = r
    results = [best[c] for c in sorted(best)]

    lo, hi = results[0], results[-1]
    speedup = hi["docs_per_sec"] / lo["docs_per_sec"]
    core_ratio = hi["cores"] / lo["cores"]
    efficiency = round(speedup / core_ratio, 4)
    summary = {
        "n_docs": args.docs,
        "levels": results,
        "speedup": round(speedup, 4),
        "core_ratio": core_ratio,
        "scaling_efficiency": efficiency,
        "meets_north_rule": efficiency >= 0.8,
    }
    print(json.dumps(summary))

    lines = [
        "",
        f"## Scaling run ({args.docs} docs, full KG pipeline)",
        "",
        "| parallelism | elapsed (s) | docs/sec |",
        "|---|---|---|",
    ]
    for r in results:
        lines.append(
            f"| local[{r['cores']}] | {r['elapsed_sec']} | {r['docs_per_sec']} |"
        )
    lines += [
        "",
        f"speedup {lo['cores']}→{hi['cores']} cores: **{summary['speedup']}×** "
        f"(core ratio {core_ratio}×) → scaling efficiency "
        f"**{efficiency}** (north-rule gate ≥ 0.8: "
        f"{'PASS' if summary['meets_north_rule'] else 'FAIL'})",
        "",
    ]
    with open(args.out_md, "a") as fh:
        fh.write("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
