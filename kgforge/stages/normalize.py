"""Stage A — punctuation/normalization over ``webdocs``.

Spark-first equivalent of the reference's inference serving path
(SURVEY.md §3.1): one ``map_rows`` stage around the oracle ``punctuator``
(kgforge.stages.rows — loop, tagger cache and byte-identity rationale), so
the distributed output is byte-identical per url to the single-node
reference. The projection is ``url, warc_ts, text, lang`` only, so the
Parquet reader never touches ``html`` (verified in tests via ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.stages.rows import _tag_map  # noqa: F401  (public import path)
from kgforge.stages.rows import map_rows, punctuator
from kgforge.textnorm.pipeline import DEFAULT_MAX_SEQUENCE_LENGTH

NORM_SCHEMA = (
    "url string, warc_ts timestamp, lang string, text_norm string, "
    "labels array<string>, n_tokens int, n_chunks int"
)


def normalize(
    webdocs: DataFrame,
    backend: str = "mock",
    max_sequence_length: int = DEFAULT_MAX_SEQUENCE_LENGTH,
    **backend_kwargs,
) -> DataFrame:
    """webdocs(url, warc_ts, html, text, lang) → norm_text(url, text_norm,
    labels, n_tokens, n_chunks)."""
    punctuate = punctuator(backend, max_sequence_length, **backend_kwargs)

    def emit(url, warc_ts, text, lang):
        lang = lang or "en"
        text_norm, labels = punctuate(text, lang)
        n_chunks = max(1, -(-len(labels) // max_sequence_length))
        yield url, warc_ts, lang, text_norm, labels, len(labels), n_chunks

    # warc_ts rides along (avoids re-joining webdocs later just for the
    # timestamp — a full url-keyed shuffle at scale); tolerate its absence.
    if "warc_ts" in webdocs.columns:
        src = webdocs.select("url", "warc_ts", "text", "lang")
    else:
        src = webdocs.select(
            "url", F.lit(None).cast("timestamp").alias("warc_ts"), "text", "lang"
        )
    return map_rows(src, NORM_SCHEMA, emit)
