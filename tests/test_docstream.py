"""Fused-stage gate: extract_docstream output == modular
triples(sentences(normalize)) exactly (same rows, same values), and every
per-row stage keeps its declared schema on empty input."""

import datetime as dt

import pytest
from pyspark.sql.types import StructType

from kgforge.fixtures.gen import gen_webdocs_rows
from kgforge.stages.corpus import (
    CHUNK_SCHEMA,
    TOKEN_TAG_SCHEMA,
    rechunk_corpus,
    token_tag_corpus,
)
from kgforge.stages.docstream import extract_docstream, scan_mentions_docstream
from kgforge.stages.extract import TRIPLES_SCHEMA, sentences, triples
from kgforge.stages.link import MENTIONS_SCHEMA, scan_mentions
from kgforge.stages.normalize import NORM_SCHEMA, normalize

N_DOCS = 200
WEBDOCS_SCHEMA = "url string, warc_ts timestamp, text string, lang string"
_TS = dt.datetime(2024, 5, 1, 12, 30)
# NULL text, NULL lang and empty text: the fused and modular paths must
# default them identically
EDGE_DOCS = [
    ("edge://null-text", _TS, None, "en"),
    ("edge://null-lang", _TS, "acme corp acquired initech for $5 million", None),
    ("edge://empty-en", _TS, "", "en"),
    ("edge://empty-zh", _TS, "", "zh"),
]


def webdocs(spark, n_docs):
    rows = [
        (r["url"], r["warc_ts"], r["text"], r["lang"])
        for r in gen_webdocs_rows(n_docs)
    ]
    return spark.createDataFrame(rows + EDGE_DOCS, WEBDOCS_SCHEMA)


def _rows(df):
    # every TRIPLES_SCHEMA column, warc_ts included
    return sorted(map(tuple, df.collect()))


def test_fused_equals_modular(spark):
    docs = webdocs(spark, N_DOCS)
    fused = _rows(extract_docstream(docs))
    modular = _rows(triples(sentences(normalize(docs))))
    assert fused == modular
    assert len(fused) > 0
    assert any(r[0] == "edge://null-lang" for r in fused)


def _corpus(docs):
    return token_tag_corpus(docs.selectExpr("url AS doc_id", "text AS line"))


# every per-row stage: (webdocs → output, declared output schema)
STAGES = {
    "normalize": (normalize, NORM_SCHEMA),
    "triples": (lambda d: triples(sentences(normalize(d))), TRIPLES_SCHEMA),
    "extract_docstream": (extract_docstream, TRIPLES_SCHEMA),
    "scan_mentions": (
        lambda d: scan_mentions(sentences(normalize(d)), ["acme corp"]),
        MENTIONS_SCHEMA,
    ),
    "scan_mentions_docstream": (
        lambda d: scan_mentions_docstream(d, ["acme corp"]),
        MENTIONS_SCHEMA,
    ),
    "token_tag_corpus": (_corpus, TOKEN_TAG_SCHEMA),
    "rechunk_corpus": (lambda d: rechunk_corpus(_corpus(d), 8, 64), CHUNK_SCHEMA),
}


@pytest.mark.parametrize("docs", ["empty", "blank"])
@pytest.mark.parametrize("stage", sorted(STAGES))
def test_no_output_rows_keep_declared_schema(spark, stage, docs):
    """An empty input yields zero rows; blank docs (NULL/empty text) make
    batches that emit no rows for most stages — both keep the declared
    output schema."""
    run, schema = STAGES[stage]
    blank = [d for d in EDGE_DOCS if not d[2]]
    out = run(spark.createDataFrame([] if docs == "empty" else blank, WEBDOCS_SCHEMA))
    rows = out.collect()
    assert docs == "blank" or rows == []
    want = StructType.fromDDL(schema)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in want
    ]
