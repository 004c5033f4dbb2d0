"""Skew-aware aggregation helpers (SURVEY.md §4 item 1).

Hot entities (the TP53-class hubs) make a plain
``groupBy(key).agg(collect_set(...))`` lopsided: one reducer gets the
hub's entire edge set. min/max/sum/count are immune (map-side partial
aggregation), but collect_set/collect_list ship every element through
one task. The fix is the classic two-phase salted aggregate:

  phase 1: groupBy(key, salt = pmod(hash(row-unique), K)) → partial sets
  phase 2: groupBy(key) → union of K partial sets

Phase 1 spreads a hub's rows over K reducers; phase 2 only merges K
pre-deduped arrays per key. AQE's skew-join splitting handles the join
side; this handles the agg side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_collect_sets(
    df: DataFrame,
    keys: list[str],
    values: dict[str, Column | str],
    num_salts: int = 16,
) -> DataFrame:
    """Multi-column two-phase salted collect_set: ONE pair of shuffles
    for any number of collected fields. ``values``: alias → column.
    Each output column is the sorted-distinct array of that field's
    values per key."""
    cols = {
        a: (F.col(c) if isinstance(c, str) else c) for a, c in values.items()
    }
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*cols.values()), F.lit(num_salts))
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        *[F.collect_set(v).alias(f"__p_{a}") for a, v in cols.items()]
    )
    return partial.groupBy(*keys).agg(
        *[
            F.sort_array(
                F.array_distinct(F.flatten(F.collect_list(f"__p_{a}")))
            ).alias(a)
            for a in cols
        ]
    )
