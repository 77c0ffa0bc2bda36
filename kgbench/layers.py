"""Per-layer metrics of the traced run, and the unit of every metric.

Each layer metric names the end-to-end metric it should move (README.md
has the table). Stage and query numbers come from spans plus the event
log folded by job label; ingest numbers from ``StreamingQuery`` progress;
kernel numbers from in-process timing with no Spark.
"""

from __future__ import annotations

import statistics

from kgforge.pipeline import ANALYTICS_STAGES
from kgforge.pipeline import STAGES as CORE_STAGES

from kgbench.tracing import STREAM_LABEL, python_boundary
from kgbench.workloads import QUERY_CLASSES

STAGES = CORE_STAGES + ANALYTICS_STAGES
STAGE_UNITS = {"write_s": "s", "commit_s": "s", "rows": "count", "shuffle_bytes": "bytes",
               "spill_bytes": "bytes", "task_skew": "ratio"}
PY_UNITS = {"python_start_ms": "ms", "python_run_ms": "ms", "python_bytes_sent": "bytes",
            "python_bytes_returned": "bytes"}
QUERY_UNITS = {"plan_ms": "ms", "call_ms": "ms", "jobs": "count", "shuffle_bytes": "bytes",
               "rows_read_per_row_returned": "ratio", "files_read": "count"}
E2E_UNITS = {"setup_s": "s", "op_cpu_ms": "ms", "items_per_cpu_s": "1/s"}

UNITS: dict[str, str] = dict(E2E_UNITS)
UNITS.update({f"{s}.{k}": u for s in STAGES for k, u in STAGE_UNITS.items()})
UNITS.update({"pipeline.run_s": "s", "pipeline.other_s": "s"})
UNITS.update({f"{b}.{k}": u for b in ("norm_text", "triples_raw", "docstream")
              for k, u in PY_UNITS.items()})
UNITS.update({"textnorm.punctuate_one_us": "us", "extract.doc_triples_us": "us",
              "textnorm.chunks_per_doc": "count", "extract.triples_per_doc": "count"})
UNITS.update({f"query.{c}.{k}": u for c in QUERY_CLASSES for k, u in QUERY_UNITS.items()})
UNITS.update({"ingest.increment_ms": "ms", "ingest.start_ms": "ms", "ingest.add_batch_ms": "ms",
              "ingest.planning_ms": "ms", "ingest.log_ms": "ms", "ingest.files_written": "count"})
UNITS.update({"session.start_s": "s", "session.warm_workers_s": "s", "fixtures.gen_s": "s",
              "query.setup_materialize_s": "s", "run.peak_rss_mb": "MB"})
UNITS.update({f"overhead.{k}": u for k, u in E2E_UNITS.items()})
PER_LAYER = [k for k in UNITS if k not in E2E_UNITS]


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def build_layers(tracer, fold: dict) -> dict[str, float]:
    out = {}
    ix = {s["name"]: i for i, s in enumerate(tracer.spans)}
    run = ix["build.run_pipeline"]
    out["pipeline.run_s"] = tracer.spans[run]["end"] - tracer.spans[run]["start"]
    # the pipeline's own time outside every stage write (eager fixpoints
    # before a write, the lineage table): stage spans + this = run_s
    out["pipeline.other_s"] = tracer.self_time(run)
    for st in STAGES:
        w = ix[f"{st}.write_table"]
        dur = tracer.spans[w]["end"] - tracer.spans[w]["start"]
        write_self = tracer.self_time(w)
        agg = fold.get(f"stage:{st}", {})
        out.update({
            f"{st}.write_s": write_self,
            f"{st}.commit_s": dur - write_self,
            f"{st}.rows": tracer.manifests[st]["row_count"],
            f"{st}.shuffle_bytes": agg.get("shuffle_bytes", 0),
            f"{st}.spill_bytes": agg.get("spill_bytes", 0),
            f"{st}.task_skew": agg.get("task_skew", 1.0),
        })
    for st in ("norm_text", "triples_raw"):
        for k, v in python_boundary(fold.get(f"stage:{st}")).items():
            out[f"{st}.{k}"] = v
    return out


def query_layers(tracer, fold: dict, calls: list[dict]) -> dict[str, float]:
    out = {}
    for c in QUERY_CLASSES:
        mine = [call for call in calls if call["name"] == c]
        n = max(1, len(mine))
        agg = fold.get(f"query:{c}", {})
        returned = sum(len(call["rows"]) for call in mine)
        out.update({
            f"query.{c}.plan_ms": _median(d * 1e3 for d in tracer.durations(f"query.{c}.plan")),
            f"query.{c}.call_ms": _median(call["ms"] for call in mine),
            f"query.{c}.jobs": agg.get("jobs", 0) / n,
            f"query.{c}.shuffle_bytes": agg.get("shuffle_bytes", 0) / n,
            f"query.{c}.rows_read_per_row_returned":
                agg.get("records_read", 0) / max(1, returned),
            f"query.{c}.files_read": agg.get("sql", {}).get("number of files read", 0) / n,
        })
    return out


def ingest_layers(tracer, fold: dict, res) -> dict[str, float]:
    runs = res.notes["increments"]
    d = [p["durationMs"] for r in runs for p in r["progress"] if p.get("numInputRows", 0) > 0]
    out = {
        "ingest.increment_ms": _median(x * 1e3 for x in res.ops),
        "ingest.start_ms": _median(x * 1e3 for x in tracer.durations("ingest.start")),
        "ingest.add_batch_ms": _median(x.get("addBatch", 0) for x in d),
        "ingest.planning_ms": _median(x.get("queryPlanning", 0) for x in d),
        "ingest.log_ms": _median(sum(x.get(k, 0) for k in
                                     ("latestOffset", "getBatch", "walCommit", "commitOffsets"))
                                 for x in d),
        "ingest.files_written": _median(r["files"] for r in runs),
    }
    for k, v in python_boundary(fold.get(STREAM_LABEL)).items():
        out[f"docstream.{k}"] = v
    return out


def per_layer(tracer, fold: dict, results: dict, setup: dict, kernels: dict) -> dict[str, float]:
    out = {k: setup[k] for k in ("session.start_s", "session.warm_workers_s", "fixtures.gen_s",
                                 "query.setup_materialize_s", "run.peak_rss_mb")}
    out.update(build_layers(tracer, fold))
    out.update(query_layers(tracer, fold, results["query"].notes["calls"]))
    out.update(ingest_layers(tracer, fold, results["ingest"]))
    out.update(kernels)
    return out
