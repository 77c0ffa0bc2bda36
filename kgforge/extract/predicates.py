"""Predicate canonicalization — relation-surface normalization for the KG.

The extractor's open tier (kgforge.extract.triples, ReVerb `V | V P | V W* P`)
emits predicates verbatim ("purchases", "has acquired", "bought"), so the
edge table splits one semantic relation across many surface forms. This
stage collapses them: lemmatize the head verb (inverse of the extractor's
rule-generated inflection table + the irregular-form map) and fold curated
synonym classes (buy/purchase → acquire, establish → found, …), keeping any
trailing particles ("invested in" → "invest in").

Scale design: the mapping is computed on the DISTINCT predicate set — tens
to thousands of strings even at 10^12 docs, because predicates come from a
verb dictionary + bounded patterns — collected through the loud
``collect_bounded`` guard, mapped driver-side in pure Python, and
broadcast-joined back onto the edge stream. The 100-TB side never runs
Python and never shuffles for this stage (broadcast hash join only).

Target-only operator (SURVEY.md §2.11 family): the reference has no KG
stage; this mirrors the predicate-normalization step of standard OpenIE
pipelines (public: Fader et al., EMNLP 2011 — lexical normalization of
relation phrases).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.extract.triples import _AUX, _IRREGULAR_FORMS, _VERB_STEMS, _inflections

# irregular surface form → stem (the extractor's _IRREGULAR_FORMS is a flat
# set; canonicalization needs the direction form → lemma)
_IRREGULAR_TO_STEM = {
    "held": "hold", "led": "lead", "met": "meet", "sold": "sell",
    "bought": "buy", "built": "build", "made": "make", "ran": "run",
    "won": "win", "grew": "grow", "grown": "grow", "became": "become",
    "began": "begin", "begun": "begin", "left": "leave", "took": "take",
    "taken": "take", "gave": "give", "given": "give", "brought": "bring",
    "wrote": "write", "written": "write", "taught": "teach", "paid": "pay",
    "chose": "choose", "chosen": "choose", "kept": "keep", "sent": "send",
    "spent": "spend", "spoke": "speak", "spoken": "speak", "knew": "know",
    "known": "know", "rose": "rise", "risen": "rise", "flew": "fly",
    "flown": "fly", "drove": "drive", "driven": "drive",
}

# curated synonym classes over STEMS (conservative: only pairs that are
# relation-equivalent for web/business triples; "launch" ≠ "found" because
# products are launched, companies founded)
_SYNONYM_STEM = {
    "buy": "acquire",
    "purchase": "acquire",
    "establish": "found",
    "cofound": "found",
    "employ": "hire",
    "recruit": "hire",
    "headquarter": "locate",
    "base": "locate",
    "collaborate": "partner",
}


def _stem_lookup() -> dict[str, str]:
    """form → stem for every rule-generated inflection of the extractor's
    verb dictionary, plus the irregular map. Built once per process."""
    lut: dict[str, str] = {}
    for stem in sorted(_VERB_STEMS):
        for form in _inflections(stem):
            # first (sorted) stem wins on the rare form collision — the
            # deterministic choice matters more than which stem it is
            lut.setdefault(form, stem)
    for form, stem in _IRREGULAR_TO_STEM.items():
        lut[form] = stem
    # forms listed as irregular but absent from the map keep themselves
    for form in _IRREGULAR_FORMS:
        lut.setdefault(form, form)
    return lut


_STEM_LUT: dict[str, str] | None = None


def canonicalize_pred(pred: str) -> str:
    """Lemmatized + synonym-collapsed canonical form of one predicate
    surface. Pure and deterministic (shared by the Spark stage's driver-side
    map build and the offline oracle twin)."""
    global _STEM_LUT
    if _STEM_LUT is None:
        _STEM_LUT = _stem_lookup()
    toks = (pred or "").split()
    # skip leading auxiliaries only when a known verb form follows ("has
    # acquired" → "acquired"); copular predicates ("is a") keep the aux —
    # stripping it would canonicalize to the article
    while len(toks) > 1 and toks[0] in _AUX and toks[1] in _STEM_LUT:
        toks = toks[1:]
    if not toks:
        return pred or ""
    stem = _STEM_LUT.get(toks[0], toks[0])
    stem = _SYNONYM_STEM.get(stem, stem)
    return " ".join([stem] + toks[1:])


def canonicalize_predicates(edges_df: DataFrame, pred_col: str = "pred") -> DataFrame:
    """edges(…, pred, …) → same rows + ``canon_pred``.

    Plan shape: distinct predicates (bounded collect) → canonical map built
    driver-side → tiny map table broadcast-joined back. The edge stream is
    never touched by Python and never shuffled; misses (impossible unless
    the distinct set was truncated) fall back to the surface form.
    """
    from kgforge.linking.guard import collect_bounded

    spark = edges_df.sparkSession
    preds = collect_bounded(
        edges_df.select(pred_col), pred_col, what="distinct predicate set"
    )
    # Arrow, not a list of tuples: a list-built frame runs every read
    # through Python workers
    canon = [canonicalize_pred(p) for p in preds]
    pred_map = pa.table({pred_col: preds, "canon_pred": canon})
    map_df = spark.createDataFrame(pred_map, f"{pred_col} string, canon_pred string")
    return edges_df.join(F.broadcast(map_df), pred_col, "left").withColumn(
        "canon_pred", F.coalesce(F.col("canon_pred"), F.col(pred_col))
    )
