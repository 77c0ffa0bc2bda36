"""Stage D — canonicalization + graph edge materialization.

sameAs duplicate registrations are merged by connected components
(kgforge.graph.cc); every linked entity id is rewritten to its component's
canonical id; triples become ``edges(subj_id, pred, obj_id, url, warc_ts)``.

Scale notes (SURVEY.md §2.11):
- the mention→canonical map is bounded by the entity dictionary — orders of
  magnitude smaller than the triple stream — so both rewrite joins are
  **broadcast hash joins**: the 100-TB side never shuffles, and hot-entity
  skew (one mention in ~30% of docs) cannot produce a straggler reducer
  because there is no reducer;
- if the dictionary ever outgrows the broadcast threshold, the same plan
  degrades gracefully to a shuffle join where AQE skew-join splitting plus
  an explicit salt column (``pmod(xxhash64(mention), K)``) bounds task
  sizes — see ``salted_join`` below, exercised by the skew test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.stages.link import self_entity

EDGES_SCHEMA = (
    "subj_id string, pred string, obj_id string, url string, warc_ts timestamp"
)


def mention_map(alias_map: DataFrame) -> DataFrame:
    """``alias_resolution`` output → the (mention, canon_id) map that
    ``rewrite_triples`` joins on."""
    return alias_map.select(F.col("alias").alias("mention"), "canon_id")


def rewrite_triples(triples_df: DataFrame, mention_map: DataFrame) -> DataFrame:
    """triples_raw → edges with canonical subject/object ids (two broadcast
    joins on the small mention map)."""
    subj_map = mention_map.select(
        F.col("mention").alias("subj"), F.col("canon_id").alias("subj_id")
    )
    obj_map = mention_map.select(
        F.col("mention").alias("obj"), F.col("canon_id").alias("obj_id")
    )
    return (
        triples_df.join(F.broadcast(subj_map), "subj", "left")
        .join(F.broadcast(obj_map), "obj", "left")
        .select(
            F.coalesce(F.col("subj_id"), self_entity("subj")).alias("subj_id"),
            "pred",
            F.coalesce(F.col("obj_id"), self_entity("obj")).alias("obj_id"),
            "url",
            "warc_ts",
        )
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-robust equi-join for when the small side is too big to
    broadcast: salt the big side's key with ``pmod(xxhash64(key), K)`` and
    replicate the small side across the K salt values, so one hot key
    spreads over K reducers (SURVEY.md §4.3-1)."""
    # salt from ALL columns, not the key: hashing the key alone would send
    # every row of a hot key to the same bucket (no mitigation at all);
    # full-row hashing spreads a hot key across buckets deterministically
    salted_big = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_buckets)).cast(
            "int"
        ),
    )
    salts = big.sparkSession.range(salt_buckets).select(
        F.col("id").cast("int").alias("_salt")
    )
    replicated_small = small.crossJoin(F.broadcast(salts))
    return salted_big.join(replicated_small, [key, "_salt"]).drop("_salt")


def edges_with_day(edges_df: DataFrame) -> DataFrame:
    """Add the ``day`` partition column (Iceberg's days(warc_ts) transform,
    emulated for partitioned Parquet). The UTC day is derived from the
    epoch-seconds cast, NOT ``date_format`` — that renders in the session
    timezone, so the partition value (and any downstream window predicate)
    would silently shift on a cluster configured to a non-UTC zone."""
    day_ix = F.floor(F.col("warc_ts").cast("long") / F.lit(86400)).cast("int")
    return edges_df.withColumn(
        "day",
        F.date_add(F.to_date(F.lit("1970-01-01")), day_ix).cast("string"),
    )
