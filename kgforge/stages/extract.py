"""Stage B — sentence split + triple extraction.

Sentence split is pure JVM-side Catalyst work (``split`` + ``posexplode``
inside WholeStageCodegen — no shuffle, no Python). Triple extraction runs
the shared pure extractor (kgforge.extract.triples) per sentence through
``kgforge.stages.rows.map_rows``. Neither stage shuffles; parallelism is
inherited from the input partitioning, so the plan scales linearly with
executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.extract.triples import extract_triples
from kgforge.stages.rows import map_rows

SENTENCES_SCHEMA = (
    "url string, warc_ts timestamp, lang string, sent_id int, sentence string"
)
TRIPLES_SCHEMA = (
    "url string, warc_ts timestamp, sent_id int, "
    "subj string, pred string, obj string, conf double"
)

# ender chars per language family (kgforge.extract.triples.split_sentences)
_EN_SPLIT = r"(?<=[.?!])\s+"
_ZH_SPLIT = r"(?<=[。？！?!])\s*"


def sentences(norm: DataFrame) -> DataFrame:
    """norm_text(url, lang, text_norm, ...) → sentences(url, sent_id,
    sentence). Trailing empty split parts are filtered; mid-document empty
    parts cannot occur (English enders always carry a following space, zh
    split is zero-width), so ``sent_id`` equals the oracle's enumeration."""
    parts = F.when(
        F.col("lang") == "zh", F.split("text_norm", _ZH_SPLIT)
    ).otherwise(F.split("text_norm", _EN_SPLIT))
    return (
        norm.select(
            "url",
            "warc_ts",
            "lang",
            F.posexplode(parts).alias("sent_id", "sentence"),
        )
        .withColumn("sentence", F.trim("sentence"))
        .filter(F.length("sentence") > 0)
    )


def triples(sentences_df: DataFrame) -> DataFrame:
    """sentences → triples_raw(url, sent_id, subj, pred, obj, conf)."""

    def emit(url, warc_ts, lang, sent_id, sentence):
        for subj, pred, obj, conf in extract_triples(sentence, lang or "en"):
            yield url, warc_ts, sent_id, subj, pred, obj, conf

    src = sentences_df.select("url", "warc_ts", "lang", "sent_id", "sentence")
    return map_rows(src, TRIPLES_SCHEMA, emit)
