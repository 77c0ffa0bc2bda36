#!/usr/bin/env python3
"""kgforge benchmark: seeded ``build``, ``query`` and ``ingest`` workloads
against kgforge's public entry points on ``local[<cores>]``.

    python3 kgbench/run.py --workload build --seed 1 --seconds 8 --trace 0

Run from the repository root; scratch files go under ``.kgbench_work/``
there and are removed at exit. ``--trace 0`` prints the end-to-end
metrics, which untraced runs also record in ``.kgbench_runs/``.
``--trace 1`` runs the workload once traced with Spark's event log on,
followed by short traced passes of the other workloads, and prints the
per-layer metrics of all three, with the tracing overhead against a
recorded untraced run (or, in a checkout with none, one in a child
process); the spans and the folded event log are kept in
``.kgbench_runs/``. The last stdout line is the result object; the line
before it is the run record (host, seed, sample counts, the per-workload
named figures). See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SHORT_SECONDS = 1.0  # traced passes of the workloads not asked for: one op each


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "query", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="flip one byte of a sampled norm_text row before the build "
                         "check (negative control: the run must report a failure)")
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def start_session(work: str, warm: bool, event_log: str | None = None):
    """kgforge's own ``get_spark`` with every scratch path inside ``work``;
    the event log is on only for the traced run. ``warm`` starts the Python
    workers up front (``build``); the other workloads' set-up starts them
    in its own first Python stage."""
    from kgbench.tracing import tree_cpu_s
    from kgforge.session import get_spark, warm_python_workers

    c0 = tree_cpu_s()
    n = cores()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: in a process this short, C2's background compilation
        # took about 40% of a cold pipeline's CPU (45 of 115 CPU-s) and
        # its amount followed the host's load; C1 reaches its steady
        # state within the set-up
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress": "false",
        # the inputs are small and the host is shared: a 2 GB driver heap
        # bounds the JVM's footprint
        "spark.driver.memory": "2g",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark("kgbench", master=f"local[{n}]", shuffle_partitions=2 * n,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    if warm:
        warm_python_workers(spark, n)
    layers = {"session.start_s": t1 - t0,
              "session.warm_workers_s": time.perf_counter() - t1,
              "session.cpu_s": tree_cpu_s() - c0}
    return spark, layers


def stop_jvm() -> None:
    """Stop the Spark gateway JVM and wait for it (its Python workers exit
    with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(values: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it, or the
    maximum when there are too few samples for any."""
    xs = sorted(values)
    for p in (99.9, 99, 95, 90, 75, 50):
        if len(xs) * (1 - p / 100) >= 10:
            return f"p{p:g}", xs[min(len(xs) - 1, int(len(xs) * p / 100))]
    return "max", xs[-1]


def named_metrics(workload: str, res) -> dict:
    """The per-workload names of the end-to-end figures, for the run
    record: docs_per_s (build), increment p50/tail (ingest), per-class
    p50/tail (query)."""
    from kgbench.workloads import QUERY_CLASSES

    if workload == "build":
        return {"docs_per_s": res.items / res.ops[0], "docs": res.items}
    if workload == "ingest":
        label, value = tail(res.ops)
        return {"increment_p50_s": statistics.median(res.ops),
                "increment_tail_s": value, "tail": label, "samples": len(res.ops)}
    out = {}
    for c in QUERY_CLASSES:
        ms = [call["ms"] for call in res.notes["calls"] if call["name"] == c]
        label, value = tail(ms)
        out.update({f"{c}_p50_ms": statistics.median(ms), f"{c}_tail_ms": value,
                    f"{c}_tail": label, f"{c}_samples": len(ms)})
    return out


def untraced(args, work: str):
    from kgbench.tracing import Tracer
    from kgbench.workloads import WORKLOADS, Context, end_to_end

    spark, layers = start_session(work, warm=args.workload == "build")
    ctx = Context(spark, work, args.seed, Tracer(), layers, corrupt=args.corrupt)
    res = WORKLOADS[args.workload](ctx, args.seconds)
    spark.stop()
    return res, end_to_end(res)


def untraced_record(root: str, workload: str, seed) -> str:
    return os.path.join(root, ".kgbench_runs", f"{workload}-seed{seed}.json")


def baseline(args, root: str) -> tuple[dict, str]:
    """End-to-end metrics of an untraced run of the same workload, for the
    tracing overhead, and where they came from. An untraced run records
    its metrics in ``.kgbench_runs/``; the record of the same seed is used
    when there is one, else the newest of another seed (its inputs differ
    by the seed). Only a checkout with no untraced run of the workload
    runs one in a child process: a second cold pipeline or query set-up
    in every traced run would not fit one run's time limit."""
    records = sorted((p for p in glob.glob(untraced_record(root, args.workload, "*"))
                      if not p.endswith("-trace.json")), key=os.path.getmtime)
    same = untraced_record(root, args.workload, args.seed)
    for path in ([same] if same in records else []) + records[::-1]:
        with contextlib.suppress(OSError, ValueError):
            with open(path) as fh:
                return json.load(fh), os.path.basename(path)
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"untraced baseline exited with {proc.returncode}")
    return ({k: v["value"] for k, v in json.loads(proc.stdout.splitlines()[-1])["metrics"].items()},
            "child process")


def traced(args, work: str, root: str):
    """Traced tour: the asked workload first at full length, then short
    passes of the others, all under one event-logged session; then the
    event log is folded into the per-layer metrics."""
    from kgbench.layers import per_layer
    from kgbench.tracing import RssSampler, Tracer, fold_event_log
    from kgbench.workloads import WORKLOADS, Context, end_to_end, kernels

    base, base_source = baseline(args, root)
    event_log = os.path.join(work, "eventlog")
    results = {}
    with RssSampler() as rss:
        spark, layers = start_session(work, args.workload == "build", event_log)
        tracer = Tracer(spark.sparkContext, enabled=True)
        ctx = Context(spark, work, args.seed, tracer, layers)
        order = [args.workload] + [w for w in WORKLOADS if w != args.workload]
        for name in order:
            results[name] = WORKLOADS[name](
                ctx, args.seconds if name == args.workload else SHORT_SECONDS)
            if name == args.workload:
                peak_mb = rss.peak_mb
                setup_layers = dict(ctx.layers)
        spark.stop()
    setup_layers["query.setup_materialize_s"] = ctx.layers["query.setup_materialize_s"]
    setup_layers["run.peak_rss_mb"] = peak_mb
    fold = fold_event_log(event_log)
    metrics = per_layer(tracer, fold, results, setup_layers,
                        kernels(random.Random(args.seed)))
    e2e = end_to_end(results[args.workload])
    for k, v in e2e.items():
        metrics[f"overhead.{k}"] = v - base[k]
    record = {"spans": tracer.spans, "fold": fold, "baseline": base,
              "baseline_source": base_source, "traced": e2e}
    return results, metrics, record


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, ROOT)
    try:
        import kgforge  # noqa: F401  (the program under test, from the checkout)
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"kgbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # the JVM and the Python workers inherit these: no scratch file lands
    # outside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    host = {"nproc": cores(), "master": f"local[{cores()}]", "loadavg_before": loadavg()}
    host["overloaded_at_start"] = host["loadavg_before"][0] > host["nproc"]
    try:
        if args.trace:
            results, metrics, record = traced(args, work, root)
            res = results[args.workload]
        else:
            res, metrics = untraced(args, work)
            results, record = {args.workload: res}, None
        failed = sum(r.failed for r in results.values())
        attempted = sum(r.attempted for r in results.values())
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
    from kgbench.layers import UNITS
    from kgbench.workloads import wall_clock

    host["loadavg_after"] = loadavg()
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "ops": len(res.ops),
              "window_s": res.window_s, "error_rate": failed / max(1, attempted),
              "wall_clock": wall_clock(res),
              "named": {name: named_metrics(name, r) for name, r in results.items()}}
    runs = os.path.join(root, ".kgbench_runs")
    os.makedirs(runs, exist_ok=True)
    if record is not None:
        with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-trace.json"), "w") as fh:
            json.dump({"report": report, **record}, fh, default=str)
    elif not failed and not args.corrupt:
        with open(untraced_record(root, args.workload, args.seed), "w") as fh:
            json.dump(metrics, fh)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
