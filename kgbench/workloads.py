"""The three seeded workloads against kgforge's public entry points.

Each workload has a set-up (untimed for its operation metrics, reported
as ``setup_s``), a timed closed loop of operations, and an output check
that runs after the timed window. ``build`` runs one cold pipeline,
``query`` serves four query classes over the day-partitioned edge table,
``ingest`` lands new documents and runs one catch-up stream per segment.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from kgbench import checks
from kgbench.tracing import tree_cpu_s

BUILD_DOCS = 500  # docs in the build and query fixtures
INPUT_FILES = 4  # parquet files per fixture (one input split per core)
SEGMENT_DOCS = 200  # docs landed per ingest increment
QUERY_CLASSES = ("anchored", "reach", "window", "cycle")
WARM_ROUNDS = 2  # untimed query rounds at the end of set-up (JIT warm-up)
REACH_HOPS = 4
WINDOW_DAYS = 15
WINDOW_K = 50
KERNEL_SAMPLE = 40  # docs timed in-process for the kernel metrics

WEBDOCS_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
ALIAS_SCHEMA = pa.schema([
    ("alias", pa.string()), ("entity_id", pa.string()),
    ("canon", pa.string()), ("prior", pa.float64()),
])


@dataclass
class Result:
    """One workload run: set-up seconds, per-operation seconds (each both
    wall-clock and process-tree CPU), work items (documents or calls)
    completed in the timed window, and the checked operations (pipeline
    runs, query calls, increments) and failures."""

    setup_s: float
    setup_cpu_s: float
    ops: list[float]
    ops_cpu: list[float]
    items: int
    window_s: float
    attempted: int
    failed: int
    notes: dict = field(default_factory=dict)


# -- seeded inputs ------------------------------------------------------------


def doc_base(seed: int) -> int:
    """First doc_id of the seed's disjoint doc_id range. ``gen.SEED`` stays
    fixed; the seed moves the range, which changes the documents, the
    hot-entity picks and the crawl days, while ``n_entities`` and the
    alias dictionary (functions of the fixed tier size) stay the same."""
    return 1_000_000 + seed * 100_000


def make_docs(first: int, count: int) -> list[dict]:
    from kgforge.fixtures.gen import make_doc

    return [make_doc(d, BUILD_DOCS) for d in range(first, first + count)]


def write_docs(rows: list[dict], out_dir: str, stem: str, files: int = INPUT_FILES) -> None:
    """Write ``rows`` as ``files`` parquet files; each lands by rename so a
    stream listing the directory never sees a partial file."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(rows) // files)
    for i in range(files):
        part = rows[i * step:(i + 1) * step]
        if not part:
            continue
        tmp = os.path.join(os.path.dirname(out_dir), f".{stem}-{i}.parquet.tmp")
        pq.write_table(pa.Table.from_pylist(part, schema=WEBDOCS_SCHEMA), tmp)
        os.replace(tmp, os.path.join(out_dir, f"{stem}-{i}.parquet"))


def write_alias(out_dir: str) -> str:
    from kgforge.fixtures.gen import gen_alias_rows

    path = os.path.join(out_dir, "alias_dict.parquet")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(list(gen_alias_rows(BUILD_DOCS)), schema=ALIAS_SCHEMA),
                   os.path.join(path, "part-0.parquet"))
    return path


class Context:
    """Shared state of one benchmark process: the session, its work dir,
    the seed, the tracer and the set-up timings."""

    def __init__(self, spark, work: str, seed: int, tracer, layers: dict,
                 corrupt: bool = False):
        self.spark = spark
        self.corrupt = corrupt
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.layers = layers  # session.* timings recorded at session start

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fixtures(self, name: str) -> tuple[str, str, list[dict]]:
        t0 = time.perf_counter()
        rows = make_docs(doc_base(self.seed), BUILD_DOCS)
        webdocs = self.path(name, "webdocs.parquet")
        write_docs(rows, webdocs, "docs")
        alias = write_alias(self.path(name))
        self.layers["fixtures.gen_s"] = time.perf_counter() - t0
        return webdocs, alias, rows


def _setup_done(ctx: Context, t0: float, c0: float) -> tuple[float, float]:
    """Set-up wall and CPU seconds: the session's plus the workload's own
    since ``t0`` / ``c0``."""
    layers = ctx.layers
    wall = layers["session.start_s"] + layers["session.warm_workers_s"] + time.perf_counter() - t0
    return wall, layers["session.cpu_s"] + tree_cpu_s() - c0


# -- build --------------------------------------------------------------------


def build(ctx: Context, seconds: float) -> Result:
    """One cold ``run_pipeline(resume=False, analytics=True)``. A pipeline
    run is longer than the measurement window, so exactly one runs per
    process: its cold cost is what a pipeline job pays."""
    from kgforge.pipeline import ANALYTICS_STAGES, STAGES, run_pipeline

    t0, c0 = time.perf_counter(), tree_cpu_s()
    webdocs, alias, rows = ctx.fixtures("build")
    setup_s, setup_cpu = _setup_done(ctx, t0, c0)
    out = ctx.path("build", "out")
    stages = STAGES + ANALYTICS_STAGES
    ctx.tracer.install(stages)
    try:
        t, c = time.perf_counter(), tree_cpu_s()
        with ctx.tracer.span("build.run_pipeline", f"stage:{stages[0]}"):
            run_pipeline(ctx.spark, webdocs, alias, out, resume=False, analytics=True)
        dt, dc = time.perf_counter() - t, tree_cpu_s() - c
    finally:
        ctx.tracer.uninstall()
    if ctx.corrupt:
        checks.corrupt_norm_text(out, rows, random.Random(ctx.seed))
    failed = checks.check_build(out, rows, stages, random.Random(ctx.seed))
    return Result(setup_s, setup_cpu, [dt], [dc], len(rows), dt, attempted=1, failed=failed,
                  notes={"docs": len(rows), "stages": stages, "out": out})


# -- query --------------------------------------------------------------------


def materialize_edges(ctx: Context, rows: list[dict], alias: str) -> str:
    """The serving table: canonical edges partitioned by day, written by
    kgforge's canonicalisation and day-partitioned writer. Its raw triples
    come from the document kernels run in this process
    (``checks.expected_doc``, the build check's reference for the Python
    document path), so the query workload starts no Python worker: the
    serving path it measures has none, and a cold worker start would add
    about 9 s to every run's set-up."""
    from pyspark.sql import functions as F

    from kgforge.graph.temporal import materialize_edges_by_day
    from kgforge.stages.canonicalize import edges_with_day, rewrite_triples
    from kgforge.stages.extract import TRIPLES_SCHEMA
    from kgforge.stages.link import alias_resolution

    spark = ctx.spark
    mention_map = alias_resolution(spark.read.parquet(alias)).select(
        F.col("alias").alias("mention"), "canon_id").localCheckpoint()
    triples = spark.createDataFrame(
        [(r["url"], r["warc_ts"], *t) for r in rows for t in checks.expected_doc(r)[1]],
        TRIPLES_SCHEMA)
    path = ctx.path("query", "edges_by_day")
    materialize_edges_by_day(edges_with_day(rewrite_triples(triples, mention_map)), path)
    return path


def query_calls(edges_df, spark, edges_path: str):
    """Query class → function of the call's parameters returning the
    class's DataFrame."""
    from kgforge.graph.bgp import match_bgp
    from kgforge.graph.paths import reachable_from
    from kgforge.graph.temporal import window_subgraph_topk

    return {
        "anchored": lambda p: match_bgp(
            edges_df, [("?x", p["p1"], "?y"), ("?y", p["p2"], p["c"])]),
        "reach": lambda p: reachable_from(edges_df, p["source"], None, max_hops=REACH_HOPS),
        "window": lambda p: window_subgraph_topk(spark, edges_path, p["lo"], p["hi"], k=WINDOW_K),
        "cycle": lambda p: match_bgp(
            edges_df, [("?a", p["p1"], "?b"), ("?b", p["p2"], "?c"), ("?c", p["p3"], "?a")]),
    }


def _query_round(ctx: Context, calls: dict, candidates: dict, rng, done: list,
                 tag: str = "query") -> tuple[float, float]:
    """One call of each query class with fresh seeded parameters; returns
    the round's wall and CPU seconds and appends each call's rows to
    ``done``. Spans and job labels are ``<tag>.<class>`` and
    ``<tag>:<class>``."""
    r0, rc = time.perf_counter(), tree_cpu_s()
    for name in QUERY_CLASSES:
        params = checks.draw_params(name, candidates, rng)
        c0 = time.perf_counter()
        with ctx.tracer.span(f"{tag}.{name}.call", f"{tag}:{name}"):
            with ctx.tracer.span(f"{tag}.{name}.plan"):
                df = calls[name](params)
            try:
                rows = [r.asDict() for r in df.collect()]
                error = None
            except Exception as exc:  # counted in error_rate, run goes on
                rows, error = [], repr(exc)
        done.append({"name": name, "params": params, "rows": rows,
                     "ms": (time.perf_counter() - c0) * 1e3, "error": error})
    return time.perf_counter() - r0, tree_cpu_s() - rc


def query(ctx: Context, seconds: float) -> Result:
    """Closed loop, one client: rounds of the four query classes in a
    fixed order, each call with seeded parameters drawn from the built
    graph; a call's time includes its collect. Set-up ends with one
    untimed round: the first call of each class pays code generation and
    JIT warm-up (measured 5.6-8.7 s for the first round against 3.3 s
    for later ones), which a serving process pays once."""
    t0, c0 = time.perf_counter(), tree_cpu_s()
    _webdocs, alias, rows = ctx.fixtures("query")
    t = time.perf_counter()
    with ctx.tracer.span("query.setup_materialize", "setup:materialize"):
        edges_path = materialize_edges(ctx, rows, alias)
    ctx.layers["query.setup_materialize_s"] = time.perf_counter() - t
    calls = query_calls(ctx.spark.read.parquet(edges_path), ctx.spark, edges_path)
    candidates = checks.query_candidates(edges_path)
    rng = random.Random(ctx.seed)
    warm: list[dict] = []
    for _ in range(WARM_ROUNDS):
        _query_round(ctx, calls, candidates, rng, warm, tag="warm")
    setup_s, setup_cpu = _setup_done(ctx, t0, c0)

    done: list[dict] = []
    rounds = []
    start = time.perf_counter()
    while not rounds or time.perf_counter() - start < seconds:
        rounds.append(_query_round(ctx, calls, candidates, rng, done))
    window = time.perf_counter() - start
    failed = checks.check_queries(edges_path, warm + done, ctx.work)
    return Result(setup_s, setup_cpu, [r[0] for r in rounds], [r[1] for r in rounds],
                  len(done), window, attempted=len(warm + done), failed=failed,
                  notes={"calls": done})


# -- ingest -------------------------------------------------------------------


def ingest(ctx: Context, seconds: float) -> Result:
    """Closed loop, one producer: land a seeded segment of new webdocs
    files, then run one ``stream_extract_edges`` catch-up run
    (Trigger.AvailableNow) to termination; repeat. An increment is timed
    from the segment landing to its run terminating. Set-up ends with one
    untimed increment, so the first stream's one-time start costs are
    paid before timing."""
    from kgforge.stages.link import alias_resolution
    from kgforge.streaming.ingest import stream_extract_edges

    t0, c0 = time.perf_counter(), tree_cpu_s()
    alias = write_alias(ctx.path("ingest"))
    ctx.layers["fixtures.gen_s"] = time.perf_counter() - t0
    alias_map = ctx.path("ingest", "alias_map")
    alias_resolution(ctx.spark.read.parquet(alias)).write.parquet(alias_map)
    in_dir, out_dir, ckpt = (ctx.path("ingest", d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)
    base = doc_base(ctx.seed)
    def parquet_files() -> int:
        return sum(f.endswith(".parquet") for _, _, fs in os.walk(out_dir) for f in fs)

    def increment(seg: int, tag: str) -> dict:
        write_docs(make_docs(base + seg * SEGMENT_DOCS, SEGMENT_DOCS), in_dir, f"seg{seg:04d}")
        files = parquet_files()
        t, c = time.perf_counter(), tree_cpu_s()
        with ctx.tracer.span(f"{tag}.increment", tag):
            with ctx.tracer.span(f"{tag}.start"):
                q = stream_extract_edges(ctx.spark, in_dir, alias_map, out_dir, ckpt)
            q.awaitTermination()
        return {"s": time.perf_counter() - t, "cpu_s": tree_cpu_s() - c,
                "files": parquet_files() - files,
                "progress": [json.loads(p.json) for p in q.recentProgress]}

    increment(0, "warm")
    setup_s, setup_cpu = _setup_done(ctx, t0, c0)

    runs: list[dict] = []
    start = time.perf_counter()
    while not runs or time.perf_counter() - start < seconds:
        runs.append(increment(len(runs) + 1, "ingest"))
    window = time.perf_counter() - start
    failed = checks.check_ingest(ctx.spark, in_dir, out_dir, alias_map, base, SEGMENT_DOCS,
                                 len(runs) + 1)
    return Result(setup_s, setup_cpu, [r["s"] for r in runs], [r["cpu_s"] for r in runs],
                  len(runs) * SEGMENT_DOCS, window, attempted=len(runs) + 1, failed=failed,
                  notes={"increments": runs})


WORKLOADS = {"build": build, "query": query, "ingest": ingest}


def kernels(rng) -> dict[str, float]:
    """Per-document Python compute of the two document kernels, timed in
    this process with no Spark over a seeded doc sample; set against the
    event log's ``python_run_ms`` it separates compute from transfer."""
    from kgforge.extract.triples import doc_triples
    from kgforge.stages.normalize import _tag_map
    from kgforge.textnorm.pipeline import DEFAULT_MAX_SEQUENCE_LENGTH, punctuate_one
    from kgforge.textnorm.tagger import get_tagger

    docs = make_docs(doc_base(rng.randrange(1000)), KERNEL_SAMPLE)
    taggers = {lang: get_tagger("mock", lang) for lang in ("en", "zh")}
    punct = trip = chunks = n_triples = 0.0
    for row in docs:
        lang = row["lang"] or "en"
        t0 = time.perf_counter()
        text_norm, labels = punctuate_one(row["text"], taggers[lang], _tag_map(lang),
                                          DEFAULT_MAX_SEQUENCE_LENGTH)
        t1 = time.perf_counter()
        n_triples += len(doc_triples(text_norm, lang))
        trip += time.perf_counter() - t1
        punct += t1 - t0
        chunks += max(1, -(-len(labels) // DEFAULT_MAX_SEQUENCE_LENGTH))
    n = len(docs)
    return {"textnorm.punctuate_one_us": punct / n * 1e6,
            "extract.doc_triples_us": trip / n * 1e6,
            "textnorm.chunks_per_doc": chunks / n,
            "extract.triples_per_doc": n_triples / n}


def end_to_end(res: Result) -> dict[str, float]:
    """The end-to-end metrics every workload reports, in CPU time of the
    whole process tree (driver, JVM, Python workers). An operation is one
    pipeline run (build), one round of the four query classes (query) or
    one increment (ingest); items are documents (build, ingest) or query
    calls (query) completed per CPU-second of the timed operations."""
    return {
        "setup_s": res.setup_cpu_s,
        "op_cpu_ms": statistics.median(res.ops_cpu) * 1e3,
        "items_per_cpu_s": res.items / sum(res.ops_cpu),
    }


def wall_clock(res: Result) -> dict[str, float]:
    """The same figures in wall-clock time, for the run record: on a shared
    host they move with the neighbours' load."""
    return {
        "setup_s": res.setup_s,
        "op_p50_ms": statistics.median(res.ops) * 1e3,
        "items_per_s": res.items / sum(res.ops),
    }
