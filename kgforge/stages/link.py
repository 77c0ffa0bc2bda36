"""Stage C — entity linking (SURVEY.md §2.11).

Relational formulation of the reference-free linking design:

1. distinct mentions from ``triples_raw`` (one shuffle, tiny output);
2. **broadcast hash join** mentions ⋈ alias_dict on the exact alias
   string (J6 — the dictionary is small by construction, ~3 aliases per
   entity, so broadcast keeps the big side shuffle-free);
3. candidate scoring with a **vectorized pandas UDF**:
   ``score = prior * cosine(embed(mention), embed(canon))`` — Arrow
   batches, no per-row Python (north-rule requirement);
4. top-1 per mention via ``row_number()`` over a deterministic window
   (score desc, entity_id asc tie-break);
5. unmatched mentions become self-entities ``M#<hash>`` so downstream
   canonicalization sees a total mapping.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from kgforge.stages.rows import map_rows

ENTITIES_SCHEMA = "mention string, entity_id string, canon string, score double"
MENTIONS_SCHEMA = "url string, sent_id int, mention string"


@pandas_udf(DoubleType())
def _pair_score(mention: pd.Series, canon: pd.Series, prior: pd.Series) -> pd.Series:
    import numpy as np

    from kgforge.linking.embed import embed_many

    m = embed_many(mention.fillna("").tolist())
    c = embed_many(canon.fillna("").tolist())
    cos = np.einsum("ij,ij->i", m, c) if len(m) else np.zeros(0)
    return pd.Series(cos * prior.fillna(0.0).to_numpy())


def mentions(triples_df: DataFrame) -> DataFrame:
    """Distinct mention surface forms from triple subjects and objects."""
    return (
        triples_df.select(
            F.explode(F.array(F.col("subj"), F.col("obj"))).alias("mention")
        )
        .where(F.length("mention") > 0)
        .distinct()
    )


def link(mentions_df: DataFrame, alias_df: DataFrame) -> DataFrame:
    """mentions → entities(mention, entity_id, canon, score): best candidate
    per mention; unmatched mentions map to deterministic self-entities."""
    cand = mentions_df.join(
        F.broadcast(alias_df),
        mentions_df["mention"] == alias_df["alias"],
        "left",
    )
    scored = cand.withColumn(
        "score",
        F.when(
            F.col("entity_id").isNotNull(),
            _pair_score(F.col("mention"), F.col("canon"), F.col("prior")),
        ).otherwise(F.lit(0.0)),
    )
    w = Window.partitionBy("mention").orderBy(
        F.desc("score"), F.asc_nulls_last("entity_id")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "alias", "prior")
    )
    return best.select(
        "mention",
        F.coalesce(
            F.col("entity_id"),
            F.concat(F.lit("M#"), F.substring(F.md5(F.col("mention")), 1, 12)),
        ).alias("entity_id"),
        F.coalesce(F.col("canon"), F.col("mention")).alias("canon"),
        F.col("score"),
    )


def alias_resolution(alias_df: DataFrame) -> DataFrame:
    """Reference-data prep (dictionary-only, document-independent): resolve
    every alias to its best entity (same scoring as ``link``) and then to
    its canonical component id via sameAs connected components. Runs once
    per dictionary version — the per-batch document stream then needs only
    broadcast joins against this map, so no per-batch linking jobs gate
    throughput. Output: alias_map(alias, canon_id, score)."""
    from kgforge.graph.cc import connected_components

    scored = alias_df.withColumn(
        "score", _pair_score(F.col("alias"), F.col("canon"), F.col("prior"))
    )
    w = Window.partitionBy("alias").orderBy(
        F.desc("score"), F.asc_nulls_last("entity_id")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("alias", "entity_id", "score")
    )
    labels = connected_components(same_as_edges(alias_df))
    return (
        best.join(F.broadcast(labels), best["entity_id"] == labels["node"], "left")
        .select(
            "alias",
            F.coalesce(F.col("component"), F.col("entity_id")).alias("canon_id"),
            "score",
        )
    )


def link_with_map(mentions_df: DataFrame, alias_map: DataFrame) -> DataFrame:
    """Per-batch linking: one broadcast join against the precomputed alias
    map; unmatched mentions get deterministic self-entities. Equivalent to
    per-mention ``link``+CC-rewrite for exact-match aliases (the extractor emits
    exact lowercase surface forms), without per-batch scoring jobs."""
    joined = mentions_df.join(
        F.broadcast(alias_map),
        mentions_df["mention"] == alias_map["alias"],
        "left",
    )
    return joined.select(
        "mention",
        F.coalesce(
            F.col("canon_id"),
            F.concat(F.lit("M#"), F.substring(F.md5(F.col("mention")), 1, 12)),
        ).alias("canon_id"),
        F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
    )


def scan_mentions(sentences_df: DataFrame, aliases: list[str]) -> DataFrame:
    """In-text mention detection (gazetteer scan): sentences(url, sent_id,
    lang, sentence) → (url, sent_id, mention) for every alias occurrence,
    leftmost-longest (kgforge.linking.mentions — pure matcher shared with
    the oracle twin). The alias list is dictionary-bounded (same size
    assumption as every broadcast join here) and ships in the closure; the
    scan itself is one ``map_rows`` stage (kgforge.stages.rows), no
    shuffle — the 100-TB-side cost is one pass over the sentences.
    Canonical ids come from a later broadcast join against the alias map
    (link_with_map), keeping matcher and linking decoupled."""
    from kgforge.linking.mentions import build_mention_index, find_mentions

    en_index, zh_aliases = build_mention_index(aliases)

    def emit(url, lang, sent_id, sentence):
        for surface in find_mentions(
            sentence or "", lang or "en", en_index, zh_aliases
        ):
            yield url, sent_id, surface

    src = sentences_df.select("url", "lang", "sent_id", "sentence")
    return map_rows(src, MENTIONS_SCHEMA, emit)


def link_fuzzy(
    mentions_df: DataFrame, alias_df: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Embedding-based candidate scoring for mentions with NO exact alias
    match (north-star "ANN candidate scoring in mapInPandas"): left-anti
    join filters the exact hits, then one Arrow stage scores each leftover
    mention against the (bounded, closure-shipped) alias embedding matrix
    via kgforge.linking.fuzzy — deterministic einsum, no threaded BLAS.
    Output: (mention, alias, score) with alias NULL below threshold."""
    from typing import Iterator

    from kgforge.linking.fuzzy import build_alias_matrix, fuzzy_link_batch
    from kgforge.linking.guard import collect_bounded

    raw = collect_bounded(alias_df, "alias", what="fuzzy-link alias dictionary")
    surfaces, mat = build_alias_matrix(raw)
    unmatched = mentions_df.join(
        alias_df.select("alias"),
        mentions_df["mention"] == alias_df["alias"],
        "left_anti",
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ms = pdf["mention"].tolist()
            res = fuzzy_link_batch(ms, surfaces, mat, threshold)
            yield pd.DataFrame(
                {
                    "mention": pd.Series(ms, dtype="object"),
                    "alias": pd.Series([a for a, _s in res], dtype="object"),
                    "score": pd.Series([s for _a, s in res], dtype="float64"),
                }
            )

    return unmatched.select("mention").mapInPandas(
        run, "mention string, alias string, score double"
    )


def same_as_edges(alias_df: DataFrame) -> DataFrame:
    """sameAs pairs: distinct entity_ids registered under an identical
    (alias, canon) — duplicate registrations of the same real-world entity.
    Abbreviation collisions (same alias, different canon) are NOT sameAs.
    Output: edges(src, dst) with src < dst."""
    a = alias_df.select("alias", "canon", "entity_id")
    b = alias_df.select(
        F.col("alias").alias("alias2"),
        F.col("canon").alias("canon2"),
        F.col("entity_id").alias("entity_id2"),
    )
    return (
        a.join(
            b,
            (a["alias"] == b["alias2"])
            & (a["canon"] == b["canon2"])
            & (a["entity_id"] < b["entity_id2"]),
        )
        .select(F.col("entity_id").alias("src"), F.col("entity_id2").alias("dst"))
        .distinct()
    )
