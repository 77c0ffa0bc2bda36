"""SparkSession factory with the engine's standard configuration.

Scale posture (SURVEY.md §4.2-4.3): AQE on (post-shuffle coalescing, skew
join splitting, broadcast conversion), Arrow on with bounded record batches
(the tagger pads per Arrow batch, so batch size caps pad waste and python
worker memory), UTC session timezone for deterministic timestamp handling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kgforge",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 512,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("KGFORGE_SHUFFLE_PARTITIONS", "32"))
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
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + ((os.pathsep + existing) if existing else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config(
            "spark.driver.memory", os.environ.get("KGFORGE_DRIVER_MEMORY", "8g")
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_python_workers(spark: SparkSession, cores: int) -> None:
    """Pay Python-worker startup BEFORE any timed phase: module imports
    plus the lazy one-time Unicode scans (currency_regex, ALL_PUNCS —
    ~1-2 s each, measured via cProfile) by pushing one real doc through
    the full normalize+extract path in every worker slot. Shared by
    bench.py and tools/_scaling_worker.py so the two timed harnesses can
    never drift (steady-state methodology: at crawl scale worker spin-up
    amortizes to zero)."""

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
