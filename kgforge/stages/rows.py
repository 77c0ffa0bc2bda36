"""The one per-row Python loop behind every document stage.

Every per-row stage (normalize, triples, the fused docstreams, the mention
scan, the training-corpus stages) is an ``emit(*row)`` generator run by
``map_rows`` inside one Arrow-batched ``mapInPandas``:

- the stage selects exactly the columns ``emit`` takes, so the Parquet
  reader prunes the rest (``normalize`` never touches ``html``);
- rows are read from plain lists (``Series.tolist``): iterating pandas
  Series row by row is ~2× slower;
- the output frame is typed from the stage's DDL schema rather than left
  to pandas inference;
- no shuffle: each stage is embarrassingly parallel per input partition.

``punctuator`` is the oracle text-normalization call
(``kgforge.textnorm.pipeline.punctuate_one``) exactly as every stage runs
it, so Spark output is byte-identical per url to the single-node reference
by construction. The full-Unicode CURRENCY pattern (~1 s scan) is built
once on the driver and shipped in the closure (SURVEY.md §4.1), and each
task keeps one tagger per language (the reference's child-process server,
C1, maps to Spark's Python workers).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from kgforge.textnorm.constants import (
    DEFAULT_CHINESE_TAG_PUNCTUATOR_MAP,
    DEFAULT_ENGLISH_TAG_PUNCTUATOR_MAP,
    currency_regex_pattern,
    prime_currency_pattern,
)
from kgforge.textnorm.pipeline import DEFAULT_MAX_SEQUENCE_LENGTH, punctuate_one
from kgforge.textnorm.tagger import get_tagger

# Spark type name → pandas dtype that Arrow converts back to that type;
# every other type (string, array) is an object column
_DTYPES = {"integer": "int32", "double": "float64", "timestamp": "datetime64[us]"}


def _tag_map(lang: str) -> dict:
    return (
        DEFAULT_CHINESE_TAG_PUNCTUATOR_MAP
        if lang == "zh"
        else DEFAULT_ENGLISH_TAG_PUNCTUATOR_MAP
    )


def map_rows(
    df: DataFrame, schema: str, emit: Callable[..., Iterable[tuple]]
) -> DataFrame:
    """Run ``emit(*row)`` over every row of ``df`` (its columns in order)
    and return the tuples it yields as a DataFrame of DDL ``schema``."""
    fields = StructType.fromDDL(schema).fields
    names = [f.name for f in fields]
    dtypes = [_DTYPES.get(f.dataType.typeName(), "object") for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out
                for row in zip(*(pdf[c].tolist() for c in pdf.columns))
                for out in emit(*row)
            ]
            # a batch that emits nothing yields a column-less empty frame,
            # which mapInPandas accepts as zero rows of the declared schema
            cols = zip(*rows)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=d) for n, c, d in zip(names, cols, dtypes)}
            )

    return df.mapInPandas(run, schema)


def punctuator(
    backend: str = "mock",
    max_sequence_length: int = DEFAULT_MAX_SEQUENCE_LENGTH,
    **backend_kwargs,
) -> Callable[[str | None, str], tuple[str, list[str]]]:
    """``(text, lang) → (text_norm, labels)`` via the oracle
    ``punctuate_one``; NULL text normalizes as the empty string. Build it
    on the driver and call it only inside a stage's ``emit``."""
    currency_pattern = currency_regex_pattern()  # driver-side scan, shipped
    taggers: dict[str, object] = {}  # unpickled empty once per task

    def punctuate(text: str | None, lang: str) -> tuple[str, list[str]]:
        tagger = taggers.get(lang)
        if tagger is None:
            prime_currency_pattern(currency_pattern)
            tagger = taggers[lang] = get_tagger(backend, lang, **backend_kwargs)
        return punctuate_one(text or "", tagger, _tag_map(lang), max_sequence_length)

    return punctuate
