"""SparkSession factory with the engine's standard configuration.

Scale posture (SURVEY.md §4.2-4.3): AQE on (post-shuffle coalescing, skew
join splitting, broadcast conversion), Arrow on with bounded record batches
(the tagger pads per Arrow batch, so batch size caps pad waste and python
worker memory), UTC session timezone for deterministic timestamp handling.

Listing: on a ``local[...]`` master the driver lists partitioned tables
itself. Spark's default starts a listing job once a path has more than 32
subdirectories (a 90-day table's every read ran a 90-task job); in one
process that job only adds task overhead to the same file-system calls.
Under any other master Spark's default stays: at crawl scale on object
stores, listing needs the job's parallelism.

DataFrame debugging: ``spark.python.sql.dataFrameDebugging.enabled`` is
``false`` unless ``extra_conf`` sets it. When on, PySpark 4 wraps every
Column function in a call-site capture: an active-session lookup, a JVM
class lookup (which scans every jar when it fails), a conf read, then a
set and a clear of the JVM's current origin. On a 4-vCPU host one
``F.col`` made 13-40 gateway round trips with the capture and 3 without,
and ten ``F.col`` calls cost 8.4 ms of driver CPU with it and 3.2 ms
without (medians of 50). What is lost is the Python file and line in the
query context of a DataFrame error; the error, its message and the JVM
stack are unchanged. PySpark reads the setting once per process, from
the session active at the first Column function call.

Class-data sharing: most of a cold session's CPU is the JVM loading and
linking Spark's classes, at start and at the first use of each operator.
``get_spark`` starts the gateway JVM from a dynamic class-data-sharing
archive (Java 13+, JEP 350) that holds those classes already parsed:

* **Where.** ``$XDG_CACHE_HOME/kgforge/cds/`` (``~/.cache/kgforge/cds/``
  when ``XDG_CACHE_HOME`` is unset), one ``<key>.<bytes>.jsa`` file of
  140-180 MB (the more classes the session loaded, the larger). The key
  hashes the ``java`` the launcher runs (its real path and stat) and the
  ``$SPARK_HOME/jars`` listing (names and sizes), so a JDK or Spark
  upgrade starts a new archive; only the current key's archive is kept.
  Clear it with ``rm -rf ~/.cache/kgforge/cds``.
* **First run.** With no archive for the key, the JVM is started with
  ``-XX:ArchiveClassesAtExit`` and writes the archive when it exits:
  11-13 s of wall time and about 12 CPU-s at interpreter exit, which an
  ``atexit`` hook waits for (bounded) before renaming the file into
  place. Only a JVM that exited with code 0 has its file promoted, and
  the file name records its byte size: a truncated archive crashes the
  JVM before the gateway opens, so a file whose size differs from its
  name is never used. An archive the JVM itself rejects (another JVM
  build, another classpath, garbage) is skipped quietly by
  ``-Xshare:auto``.
* **Later runs** start with ``-XX:SharedArchiveFile``. On a 4-vCPU
  host, session start fell from 7.3 to 2.6 s of wall time in a traced
  ``query`` benchmark run, and that workload's set-up from 40.6 to 31.5
  CPU-s (medians of 10 runs).
* **Classpath.** The JVM refuses to write an archive while a non-empty
  directory is on its classpath, and Spark puts its conf directory
  first. For the gateway launch only, ``SPARK_CONF_DIR`` points at an
  empty directory in the cache; the Python process keeps its own.
* **No archive** (the JVM starts as it always did) when any of these
  holds: the conf directory holds a file that is not a ``*.template``
  (its settings must stay in effect); ``HADOOP_CONF_DIR``,
  ``YARN_CONF_DIR``, ``SPARK_DIST_CLASSPATH`` or ``PYSPARK_SUBMIT_ARGS``
  is set, or ``spark.driver.extraClassPath`` is given (classpath entries
  the key does not see); the caller gives its own
  ``spark.driver.defaultJavaOptions`` (the archive's flags live there, so
  the caller's value wins); the cache cannot be written; a gateway is
  already running (its JVM flags are fixed).

The flags go in ``spark.driver.defaultJavaOptions`` with
``-Xlog:cds*=off``, so the JVM never prints a CDS line; Spark prepends
them to ``spark.driver.extraJavaOptions``, which stays the caller's.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
from collections.abc import Iterator, Mapping
from dataclasses import dataclass

from pyspark.sql import SparkSession

# paths listed on the driver before Spark starts a listing job (local masters)
LOCAL_LISTING_THRESHOLD = 100_000
JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
# set, each adds classpath entries or JVM options the archive key does not see
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "PYSPARK_SUBMIT_ARGS",
)
_DUMP_WAIT_S = 180  # bound on the archive dump at exit (about 13 s measured)


@dataclass(frozen=True)
class Launch:
    """Everything ``get_spark`` applies, decided without starting a JVM."""

    master: str
    conf: dict[str, str]  # builder settings
    env: dict[str, str]  # kept in the Python process's environment
    gateway_env: dict[str, str]  # in effect only while the gateway launches
    dump: str | None = None  # the temp file this launch's JVM writes the archive to


def launch_settings(
    master: str | None,
    shuffle_partitions: int | None,
    arrow_batch: int,
    extra_conf: Mapping[str, str] | None,
    environ: Mapping[str, str],
    gateway_running: bool,
) -> Launch:
    """The master, settings and environment of a session; ``environ`` is
    read, never written. Only the archive branch touches the file system:
    it lists the conf and jars directories and creates the cache."""
    if master is None:
        cpus = environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
        master = environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(environ.get("KGFORGE_SHUFFLE_PARTITIONS", "32"))
    # make the repo importable in daemon/worker processes regardless of the
    # launcher's cwd: the JVM (and the Python daemon it spawns) inherit the
    # driver process environment, and PythonWorkerFactory merges the
    # inherited PYTHONPATH into the worker path — UDF closures import
    # kgforge inside the worker, which otherwise relies on the launcher
    # running from the repo root. (A pre-importing custom daemon module
    # was tried here and reverted: with idle cores, N workers importing
    # pandas concurrently cost the same wall-clock as one serial daemon
    # import — the first-Arrow-stage overhead is JVM-side class loading
    # plus one import chain, both fixed; measured 2.3-2.5 s first call
    # either way, 0.5 s steady.) Executors under a non-local master do
    # not inherit the driver environment, so the repo root also goes into
    # spark.executorEnv.PYTHONPATH.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {}
    existing = environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        env["PYTHONPATH"] = repo_root + ((os.pathsep + existing) if existing else "")
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(arrow_batch),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.executorEnv.PYTHONPATH": repo_root,
        "spark.driver.memory": environ.get("KGFORGE_DRIVER_MEMORY", "8g"),
        # no Python call site captured around every Column function
        # (module docstring)
        DEBUGGING: "false",
    }
    if master == "local" or master.startswith("local["):
        conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] = str(
            LOCAL_LISTING_THRESHOLD
        )
    conf.update(extra_conf or {})
    launch = Launch(master, conf, env, {})
    return launch if gateway_running else _with_archive(launch, environ)


def _with_archive(launch: Launch, environ: Mapping[str, str]) -> Launch:
    """``launch`` with the class-data-sharing flags and the empty conf
    directory, or unchanged when a skip rule holds (module docstring)."""
    if JAVA_OPTIONS in launch.conf or "spark.driver.extraClassPath" in launch.conf:
        return launch
    if any(environ.get(name) for name in _CLASSPATH_ENV):
        return launch
    from pyspark.find_spark_home import _find_spark_home

    spark_home = environ.get("SPARK_HOME") or _find_spark_home()
    conf_dir = environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    with contextlib.suppress(FileNotFoundError):
        if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
            return launch
    java = (
        os.path.join(environ["JAVA_HOME"], "bin", "java")
        if environ.get("JAVA_HOME")
        else shutil.which("java", path=environ.get("PATH"))
    )
    home = environ.get("HOME") or os.path.expanduser("~")
    cache = os.path.join(
        environ.get("XDG_CACHE_HOME") or os.path.join(home, ".cache"), "kgforge", "cds"
    )
    empty_conf = os.path.join(cache, "conf")
    try:
        key = _archive_key(java, os.path.join(spark_home, "jars"))
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(cache, os.W_OK):
            return launch
    except (OSError, TypeError):  # no java, no jars, or an unwritable cache
        return launch
    archive = _complete_archive(cache, key)
    if archive is not None:
        flag, dump = f"-XX:SharedArchiveFile={archive}", None
    else:
        dump = os.path.join(cache, f"{key}.jsa.{os.getpid()}.tmp")
        flag = f"-XX:ArchiveClassesAtExit={dump}"
    conf = {**launch.conf, JAVA_OPTIONS: f"{_java_quote(flag)} -Xlog:cds*=off"}
    return Launch(launch.master, conf, launch.env, {"SPARK_CONF_DIR": empty_conf}, dump)


def _archive_key(java: str, jars: str) -> str:
    """Hash of the JVM the launcher runs and of the jar set."""
    real = os.path.realpath(java)
    st = os.stat(real)
    h = hashlib.sha256(f"{real}\0{st.st_size}\0{st.st_mtime_ns}\0{st.st_ino}".encode())
    for name in sorted(os.listdir(jars)):
        h.update(f"\n{name}\0{os.path.getsize(os.path.join(jars, name))}".encode())
    return h.hexdigest()[:24]


def _complete_archive(cache: str, key: str) -> str | None:
    """The key's archive whose byte size equals the size in its name."""
    for path in glob.glob(os.path.join(glob.escape(cache), f"{key}.*.jsa")):
        size = os.path.basename(path)[len(key) + 1 : -len(".jsa")]
        with contextlib.suppress(OSError):
            if size.isdigit() and os.path.getsize(path) == int(size):
                return path
    return None


def _java_quote(option: str) -> str:
    """One option of Spark's Java options string, which the launcher
    splits on whitespace outside double quotes."""
    if not any(c.isspace() or c in "\"'\\" for c in option):
        return option
    return '"' + option.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _promote(proc: subprocess.Popen, dump: str) -> None:
    """At interpreter exit: end the gateway JVM (it exits on EOF of its
    stdin, writing the archive), wait for it within ``_DUMP_WAIT_S``, and
    move its file into place only if it exited with code 0. Archives of
    other keys, and temp files of processes that are gone, are deleted."""
    try:
        if proc.poll() is None:
            with contextlib.suppress(OSError, ValueError):
                proc.stdin.close()
            try:
                proc.wait(timeout=_DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode != 0 or not os.path.isfile(dump):
            return
        cache = os.path.dirname(dump)
        key = os.path.basename(dump).split(".", 1)[0]
        archive = os.path.join(cache, f"{key}.{os.path.getsize(dump)}.jsa")
        os.replace(dump, archive)
        for path in glob.glob(os.path.join(glob.escape(cache), "*.jsa")):
            if path != archive:
                os.remove(path)
        for path in glob.glob(os.path.join(glob.escape(cache), "*.jsa.*.tmp")):
            pid = path.rsplit(".", 2)[-2]
            if pid.isdigit() and not _alive(int(pid)):
                os.remove(path)
    except OSError:
        pass  # the cache is best effort; the next session writes it again
    finally:
        with contextlib.suppress(OSError):
            os.remove(dump)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # another user's process
    return True


@contextlib.contextmanager
def _environment(updates: Mapping[str, str]) -> Iterator[None]:
    """``os.environ`` with ``updates`` applied, restored afterwards."""
    saved = {k: os.environ.get(k) for k in updates}
    os.environ.update(updates)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def get_spark(
    app_name: str = "kgforge",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 512,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    from pyspark import SparkContext

    launch = launch_settings(
        master,
        shuffle_partitions,
        arrow_batch,
        extra_conf,
        os.environ,
        gateway_running=SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ,
    )
    os.environ.update(launch.env)
    builder = SparkSession.builder.appName(app_name).master(launch.master)
    for k, v in launch.conf.items():
        builder = builder.config(k, v)
    try:
        with _environment(launch.gateway_env):
            return builder.getOrCreate()
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        if launch.dump is not None and proc is not None:
            atexit.register(_promote, proc, launch.dump)


def warm_python_workers(spark: SparkSession, cores: int) -> None:
    """Pay Python-worker startup BEFORE any timed phase: module imports
    plus the lazy one-time Unicode scans (currency_regex, ALL_PUNCS —
    ~1-2 s each, measured via cProfile) by pushing one real doc through
    the full normalize+extract path in every worker slot. The timed
    harnesses call it before their timed work: bench.py (its scaling runs
    included) before its KG phases, and the kgbench ``build`` set-up
    (steady-state methodology: at crawl scale worker spin-up amortizes to
    zero)."""

    def _warm(batches):
        from kgforge.extract.triples import doc_triples
        from kgforge.stages.normalize import _tag_map
        from kgforge.textnorm.pipeline import (
            DEFAULT_MAX_SEQUENCE_LENGTH,
            punctuate_one,
        )
        from kgforge.textnorm.tagger import MockTagger

        tn, _labels = punctuate_one(
            "acme corp acquired iron foods for $5",
            MockTagger(lang="en"),
            _tag_map("en"),
            DEFAULT_MAX_SEQUENCE_LENGTH,
        )
        doc_triples(tn, "en")
        for pdf in batches:
            yield pdf

    spark.range(0, cores * 8, 1, cores * 4).mapInPandas(_warm, "id long").count()
