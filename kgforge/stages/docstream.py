"""Fused document stream: webdocs → triples_raw in ONE Python stage.

The modular stages (normalize / sentences / triples) each cross the
JVM↔Python boundary; chained, a task holds two live Python workers and
pays worker startup twice. For the throughput path (the part that scales
with a 100-TB corpus) this stage fuses normalize + sentence split + triple
extraction into a single ``map_rows`` stage — one worker per task, one
Arrow crossing, identical output to ``triples(sentences(normalize(webdocs)))``
(asserted by tests/test_docstream.py). Loop and punctuator:
kgforge.stages.rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kgforge.extract.triples import doc_triples, split_sentences
from kgforge.linking.mentions import build_mention_index, find_mentions
from kgforge.stages.extract import TRIPLES_SCHEMA
from kgforge.stages.link import MENTIONS_SCHEMA
from kgforge.stages.rows import map_rows, punctuator
from kgforge.textnorm.pipeline import DEFAULT_MAX_SEQUENCE_LENGTH


def extract_docstream(
    webdocs: DataFrame,
    backend: str = "mock",
    max_sequence_length: int = DEFAULT_MAX_SEQUENCE_LENGTH,
    **backend_kwargs,
) -> DataFrame:
    """webdocs(url, warc_ts, html, text, lang) → triples_raw(url, warc_ts,
    sent_id, subj, pred, obj, conf), fused."""
    punctuate = punctuator(backend, max_sequence_length, **backend_kwargs)

    def emit(url, warc_ts, text, lang):
        lang = lang or "en"
        text_norm, _labels = punctuate(text, lang)
        for sent_id, subj, pred, obj, conf in doc_triples(text_norm, lang):
            yield url, warc_ts, sent_id, subj, pred, obj, conf

    src = webdocs.select("url", "warc_ts", "text", "lang")
    return map_rows(src, TRIPLES_SCHEMA, emit)


def scan_mentions_docstream(
    webdocs: DataFrame,
    aliases: list[str],
    backend: str = "mock",
    max_sequence_length: int = DEFAULT_MAX_SEQUENCE_LENGTH,
    **backend_kwargs,
) -> DataFrame:
    """Fused gazetteer path: webdocs → (url, sent_id, mention) in ONE
    Python stage (punctuate + sentence split + leftmost-longest alias scan
    — the same fusion rationale as ``extract_docstream``: chained Python
    stages pay worker startup and Arrow crossings twice). Output is
    identical to ``scan_mentions(sentences(normalize(webdocs)), aliases)``
    (asserted in tests/test_mentions.py)."""
    punctuate = punctuator(backend, max_sequence_length, **backend_kwargs)
    en_index, zh_aliases = build_mention_index(aliases)

    def emit(url, text, lang):
        lang = lang or "en"
        text_norm, _labels = punctuate(text, lang)
        for sent_id, sentence in enumerate(split_sentences(text_norm, lang)):
            for surface in find_mentions(sentence, lang, en_index, zh_aliases):
                yield url, sent_id, surface

    src = webdocs.select("url", "text", "lang")
    return map_rows(src, MENTIONS_SCHEMA, emit)
