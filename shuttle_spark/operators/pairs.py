"""One key-overlap kernel for every candidate-pair operator.

Each near-dup and similarity operator builds its candidate pairs with the
shuffle shape the reference's service exists to execute: partition rows by
key, then group each key's rows together.  Here a *key relation* posts every
id under its blocking keys — a word gram (exact Jaccard, prefix filter), a
character trigram (fuzzy join), a (band_idx, band_key) of a MinHash or
sign-LSH signature, or a (chunk_idx, chunk) of a SimHash fingerprint — and
``key_pairs`` equi-joins on the key and groups the collisions per id pair.
The collision count ``inter`` is the shared-gram count for the
inverted-index joins and is ignored by the banded joins, for which the
grouping is the dedup across bands.  AQE skew-splits hot keys (a
ubiquitous gram at 100 TB is a skewed key).

Pairs are decided on narrow rows: a payload (gram set, vector) never rides
the key join; ``attach`` joins it once per side afterwards.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_pairs(
    left: DataFrame, right: DataFrame | None = None, *, on: list[str]
) -> DataFrame:
    """(id_a, id_b, <c>_a..., <c>_b..., inter) for every id pair sharing
    at least one key row.

    ``left`` and ``right`` are key relations: an ``id`` column, the key
    columns ``on``, and optionally per-id columns (a set size, a
    fingerprint).  Per-id columns are functionally dependent on the id, so
    they join the pair's grouping for free and come out suffixed ``_a`` /
    ``_b``.  ``inter`` counts the key rows the pair shares.  With
    ``right=None`` the join is a self-join and keeps ``id_a < id_b``;
    otherwise id_a comes from ``left`` and id_b from ``right``."""
    b_side = left if right is None else right
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in on]
    if right is None:
        cond.append(F.col("a.id") < F.col("b.id"))

    def per_id(df: DataFrame, side: str) -> list:
        return [
            F.col(f"{side}.{c}").alias(f"{c}_{side}")
            for c in df.columns
            if c != "id" and c not in on
        ]

    # Candidate joins must never be planned as static broadcasts:
    # Catalyst's size estimate under union/explode/UDF chains is unreliable
    # (a 100x stress saw a banded relation estimated broadcastable while
    # materializing to tens of GiB).  hint("merge") pins sort-merge — AQE
    # still skew-splits hot keys and can runtime-convert truly small sides.
    return (
        left.alias("a")
        .hint("merge")
        .join(b_side.alias("b"), reduce(and_, cond))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *per_id(left, "a"),
            *per_id(b_side, "b"),
        )
        .agg(F.count("*").alias("inter"))
    )


def one_per_id(payload: DataFrame, col: str) -> DataFrame:
    """(id, col) with exactly one row per id: the least payload of an id
    that occurs more than once.  Ids are expected unique; this keeps a
    duplicated id from emitting its pairs more than once."""
    return payload.groupBy("id").agg(F.min(col).alias(col))


def attach(pairs: DataFrame, payload: DataFrame, col: str) -> DataFrame:
    """``pairs`` plus ``<col>_a`` and ``<col>_b``: the ``col`` of
    ``payload`` (an ``id`` relation) for each side of every pair.  Each
    id's payload moves once per side, and one payload row per id keeps
    every pair row single."""
    one = one_per_id(payload, col)
    side = lambda s: one.select(  # noqa: E731
        F.col("id").alias(f"id_{s}"), F.col(col).alias(f"{col}_{s}")
    )
    return (
        pairs.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .select(*pairs.columns, f"{col}_a", f"{col}_b")
    )
