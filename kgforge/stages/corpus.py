"""Stage E (training-data export): cleaned text → token/tag corpus →
deterministic re-chunked training samples (S5/S6/R2/R3/R7, SURVEY §2).

The reference round-trips through files between every step
(data_process.py:59-67 → generate_corpus re-reads at :173); the engine
keeps the data columnar end-to-end and only materializes the final TSV if
an export path is given.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.stages.rows import map_rows
from kgforge.textnorm.cleaning import process_line
from kgforge.textnorm.constants import DEFAULT_ENGLISH_NER_MAPPING
from kgforge.textnorm.corpus import rechunk_doc

TOKEN_TAG_SCHEMA = "doc_id string, tokens array<string>, tags array<string>"
CHUNK_SCHEMA = (
    "doc_id string, chunk_id int, tokens array<string>, tags array<string>"
)


def token_tag_corpus(
    cleaned: DataFrame, ner_mapping: dict[str, str] | None = None
) -> DataFrame:
    """cleaned(doc_id, line) → (doc_id, tokens, tags) via the oracle
    ``process_line`` state machine (R2) in one ``map_rows`` stage."""
    mapping = ner_mapping or DEFAULT_ENGLISH_NER_MAPPING

    def emit(doc_id, line):
        tokens, tags = process_line(line or "", mapping)
        yield doc_id, tokens, tags

    return map_rows(cleaned.select("doc_id", "line"), TOKEN_TAG_SCHEMA, emit)


def rechunk_corpus(
    corpus: DataFrame, min_sequence_length: int, max_sequence_length: int
) -> DataFrame:
    """R3: deterministic per-doc re-chunking into training samples —
    chunk lengths are hash-of-(doc_id, chunk_ordinal), so output is
    identical under any partitioning or resume (SURVEY §4.3-5)."""

    def emit(doc_id, tokens, tags):
        chunks = rechunk_doc(
            list(tokens),
            list(tags),
            str(doc_id),
            min_sequence_length,
            max_sequence_length,
        )
        for chunk_id, (chunk_tokens, chunk_tags) in enumerate(chunks):
            yield doc_id, chunk_id, chunk_tokens, chunk_tags

    src = corpus.select("doc_id", "tokens", "tags")
    return map_rows(src, CHUNK_SCHEMA, emit)


def token_tag_rows(corpus: DataFrame) -> DataFrame:
    """R7/J1: explode zipped token/tag arrays into rows."""
    z = F.explode(F.arrays_zip("tokens", "tags")).alias("tt")
    return corpus.select("doc_id", z).select(
        "doc_id",
        F.col("tt.tokens").alias("token"),
        F.col("tt.tags").alias("tag"),
    )


def export_token_tag_tsv(corpus: DataFrame, path: str) -> None:
    """S6 sink: one text part-file per partition of ``token\\ttag`` lines
    with a blank line between docs (generate_corpus format,
    data_process.py:160-182). Doc order within a partition is preserved;
    global file order is partition-parallel by design."""
    lines = corpus.select(
        F.concat_ws(
            "\n",
            F.transform(
                F.arrays_zip("tokens", "tags"),
                lambda tt: F.concat_ws("\t", tt["tokens"], tt["tags"]),
            ),
        ).alias("value")
    )
    lines.write.mode("overwrite").option("lineSep", "\n\n").text(path)
