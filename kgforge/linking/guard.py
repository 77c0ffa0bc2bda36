"""Loud size guard for dictionary-sized driver collects.

The gazetteer mention scan and the fuzzy linker ship the alias dictionary
to executors inside a task closure (the standard way to build a broadcast
matcher/embedding matrix). That is correct ONLY while the dictionary is
dictionary-sized: a corpus-sized collect would OOM the driver or blow the
task-closure limit with no useful error. Mirroring the explicit
``driver_threshold`` discipline of kgforge.graph.cc (200k edges), every
such collect goes through ``collect_bounded``, which caps driver memory at
``limit + 1`` rows via ``limit()`` pushdown and raises loudly past the
bound instead of degrading.

Past the bound, the scale path is NOT a bigger closure: route linking
through the token-keyed shuffle join (``kgforge.stages.canonicalize.
salted_join`` for skewed keys), which is tested and needs no driver-side
dictionary at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# ~500k aliases ≈ 10–50 MB of strings in a task closure — comfortably
# inside Spark's default broadcast/closure budgets; real entity
# dictionaries (Wikidata labels ≈ 100M) must use the join path instead.
ALIAS_CLOSURE_LIMIT = 500_000


def collect_bounded(
    df: DataFrame,
    column: str,
    limit: int = ALIAS_CLOSURE_LIMIT,
    what: str = "alias dictionary",
) -> list:
    """Collect the distinct non-NULL values of ``column`` for closure
    shipping, sorted (deterministic matcher order); NULL is never an alias
    to match nor a predicate to map. Driver memory is bounded by
    ``limit + 1`` rows regardless of the input size; exceeding ``limit``
    raises ValueError naming the distributed fallback."""
    rows = df.select(column).dropna().distinct().limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"{what} exceeds the closure-shipping bound ({limit:,} distinct"
            f" values): driver-side collection is only safe for"
            f" dictionary-sized inputs. Use the distributed join path"
            f" (broadcast/salted join — kgforge.stages.canonicalize."
            f"salted_join) instead of the in-closure matcher."
        )
    return sorted(r[column] for r in rows)
