"""Tracing for the traced run: in-memory spans around kgforge's public
layer functions, Spark job labels, and the fold of Spark's event log into
per-label numbers.

Spans are recorded from the benchmark's own files by wrapping module
attributes of kgforge for the duration of the traced run; no kgforge
source is changed. Each span has a name, start, end and parent. The jobs a
span starts carry its label as ``spark.job.description``, which the event
log stores with every ``SparkListenerJobStart``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

DESC = "spark.job.description"
STREAM_LABEL = "stream"
COMMIT_FUNCS = ("table_checksum", "partition_lineage", "commit_manifest")

# SQL metric names Spark 4.1 writes for the Python boundary of mapInPandas.
# "time to initialize Python workers" is left out: a reused worker starts
# that clock when it begins waiting for its next task, so it counts idle
# time between tasks.
PYTHON_METRICS = {
    "python_start_ms": ("time to start Python workers",),
    "python_run_ms": ("time to run Python workers",),
    "python_bytes_sent": ("data sent to Python workers",),
    "python_bytes_returned": ("data returned from Python workers",),
}


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes every span a no-op so
    the untraced run pays nothing."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple] = []
        self._stage: str | None = None
        self._stage_order: list[str] = []
        self.manifests: dict[str, dict] = {}

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev = self.sc.getLocalProperty(DESC) if label else None
        if label:
            self.sc.setJobDescription(label)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if label:
                self.sc.setLocalProperty(DESC, prev)

    def label(self, value: str | None) -> None:
        if self.enabled:
            self.sc.setLocalProperty(DESC, value)

    # -- wrapping kgforge's layer functions -------------------------------

    def install(self, stage_order: list[str]) -> None:
        """Wrap ``io.tables`` so every stage write and commit scan is a span
        and its jobs carry ``stage:<name>`` / ``commit:<name>``. Jobs a
        pipeline stage runs before its write (eager fixpoints such as the
        sameAs components or label propagation) are labelled with that
        stage too: after each write the label moves on to the next stage
        in ``stage_order``."""
        if not self.enabled:
            return
        from kgforge.io import tables

        self._stage_order = list(stage_order)
        write_table = tables.write_table

        def traced_write_table(df, path, stage, *a, **kw):
            self._stage = stage
            try:
                with self.span(f"{stage}.write_table", f"stage:{stage}"):
                    manifest = write_table(df, path, stage, *a, **kw)
            finally:
                self._stage = None
                if stage in self._stage_order:
                    ix = self._stage_order.index(stage) + 1
                    self.label(f"stage:{self._stage_order[ix]}"
                               if ix < len(self._stage_order)
                               else "pipeline:other")
            self.manifests[stage] = manifest
            return manifest

        self._patch(tables, "write_table", traced_write_table)
        for fname in COMMIT_FUNCS:
            self._patch(tables, fname, self._commit_wrapper(getattr(tables, fname), fname))

    def _commit_wrapper(self, fn, fname):
        def traced(*a, **kw):
            stage = self._stage or "unstaged"
            with self.span(f"{stage}.{fname}", f"commit:{stage}"):
                return fn(*a, **kw)
        return traced

    def _patch(self, module, attr, new) -> None:
        self._restore.append((module, attr, getattr(module, attr)))
        setattr(module, attr, new)

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    # -- span arithmetic ----------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, ix: int) -> float:
        """Span duration minus the part its child spans cover (children run
        one after another on the driver thread, so they do not overlap)."""
        s = self.spans[ix]
        covered = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == ix)
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _tree_stats() -> list[list[str]]:
    """``/proc/<pid>/stat`` fields, from field 3 (state) on, of this process
    and all its descendants (the JVM and its Python workers)."""
    children = defaultdict(list)
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            children[int(fields[1])].append(int(d))  # field 4 is ppid
            stats[int(d)] = fields
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds this process and all its descendants have used so far,
    reaped children included (fields 14-17: utime, stime, cutime, cstime).
    Unlike wall-clock time it leaves out the time the hypervisor hands this
    machine's CPUs to other guests (steal), which on a shared host swings
    from run to run."""
    ticks = sum(int(x) for f in _tree_stats() for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss_kb(self) -> int:
        # field 24 is rss in pages
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        return sum(int(f[21]) * page_kb for f in _tree_stats())

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- event log fold -----------------------------------------------------------


def _plan_metric_names(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metric_names(child, out)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job label: jobs, tasks, executor run ms, shuffle bytes written,
    spill, input records, max/median task skew over its Spark stages, and
    every SQL metric (summed task updates plus driver-side updates such as
    ``number of files read``). Spark 4.1 writes a v2 rolling directory
    ``eventlog_v2_<app>/events_<n>_<app>``."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    accum_name: dict[int, str] = {}
    driver_updates: list[tuple[int, list]] = []
    per = defaultdict(lambda: {"jobs": 0, "tasks": 0, "run_ms": 0,
                               "shuffle_bytes": 0, "spill_bytes": 0,
                               "records_read": 0, "sql": defaultdict(float),
                               "stage_runs": defaultdict(list)})
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    label = props.get(DESC) or "unlabelled"
                    if label.startswith("\nid = "):
                        # a streaming micro-batch: Spark replaces the
                        # description with the query id and batch number
                        label = STREAM_LABEL
                    per[label]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_label[sid] = label
                    if "spark.sql.execution.id" in props:
                        exec_label.setdefault(int(props["spark.sql.execution.id"]), label)
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(ev["Stage ID"], "unlabelled")
                    agg = per[label]
                    tm = ev.get("Task Metrics") or {}
                    agg["tasks"] += 1
                    run_ms = tm.get("Executor Run Time", 0)
                    agg["run_ms"] += run_ms
                    agg["stage_runs"][ev["Stage ID"]].append(run_ms)
                    agg["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    agg["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    agg["records_read"] += (tm.get("Input Metrics") or {}).get(
                        "Records Read", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name", "")
                        if acc.get("Metadata") == "sql" and "Update" in acc:
                            try:
                                agg["sql"][name] += float(acc["Update"])
                            except (TypeError, ValueError):
                                pass
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    _plan_metric_names(ev.get("sparkPlanInfo", {}), accum_name)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metric_names(ev.get("sparkPlanInfo", {}), accum_name)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates.append((ev["executionId"], ev["accumUpdates"]))
    for exec_id, updates in driver_updates:
        label = exec_label.get(exec_id)
        if label is None:
            continue
        for acc_id, value in updates:
            name = accum_name.get(acc_id)
            if name:
                per[label]["sql"][name] += float(value)
    out = {}
    for label, agg in per.items():
        skews = [max(r) / max(statistics.median(r), 1)
                 for r in agg["stage_runs"].values() if len(r) >= 2]
        agg["task_skew"] = max(skews) if skews else 1.0
        del agg["stage_runs"]
        agg["sql"] = dict(agg["sql"])
        out[label] = agg
    return out


def python_boundary(agg: dict) -> dict[str, float]:
    """The Python-boundary split of one label's jobs: worker start-up, run
    time (both summed over tasks, in ms), bytes sent and returned."""
    sql = agg.get("sql", {}) if agg else {}
    return {key: sum(sql.get(n, 0.0) for n in names)
            for key, names in PYTHON_METRICS.items()}
