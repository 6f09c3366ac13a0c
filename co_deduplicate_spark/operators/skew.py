"""Skew control: salted repartition + two-stage aggregation.

Web text is Zipfian — hot LSH bands (boilerplate), hot tokens, hot cluster
ids. Three layers of defense, in order of preference:

1. AQE (`spark.sql.adaptive.skewJoin.enabled`, on in session.py) — splits
   skewed join partitions at runtime; zero code.
2. Star reduction for mega LSH buckets (operators/lsh.py) — changes edge
   *count*, preserves connectivity exactly.
3. Explicit salting (this module) — for aggregations whose single hot key
   would bottleneck one reducer even after AQE: pre-aggregate per
   (key, salt), then finalize per key. Classic map-side two-stage combine,
   expressed as two groupBys.

All deterministic: salt = xxhash64 of a caller-chosen disambiguator column
mod n, never a random number (resume/idempotency requirement).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, disambiguator: Column, n_salts: int) -> DataFrame:
    """Deterministic salt column in [0, n_salts)."""
    return df.withColumn("_salt", F.pmod(F.xxhash64(disambiguator), F.lit(n_salts)))


def salted_count(df: DataFrame, keys: list[str], disambiguator: Column,
                 n_salts: int = 16) -> DataFrame:
    """count(*) per key via two-stage salted aggregation.

    Equivalent to ``df.groupBy(keys).count()`` but the first exchange
    hashes on (keys + salt), spreading a hot key over ``n_salts`` reducers;
    the second stage combines ``n_salts`` partials per key — tiny.
    """
    partial = (
        with_salt(df, disambiguator, n_salts)
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias("count"))


def salted_collect_sets(df: DataFrame, keys: list[str], value_cols: list[str],
                        disambiguator: Column, n_salts: int = 16) -> DataFrame:
    """``array_sort(collect_set(col))`` per key for every value column,
    salt-spread, in ONE two-stage aggregation: ``set_<col>`` per value
    column plus a ``count`` of input rows. Partials collect per (key,
    salt); the finalize stage flattens n_salts small arrays per key. This
    is the skew-safe cluster aggregate (A3/A4 chain and sources,
    plans/business_view.py::cluster_table): a mega-cluster's members
    spread over ``n_salts`` partial reducers instead of funnelling into one.
    """
    partial = (
        with_salt(df, disambiguator, n_salts)
        .groupBy(*keys, "_salt")
        .agg(
            *[F.collect_set(c).alias(f"_p_{c}") for c in value_cols],
            F.count(F.lit(1)).alias("_p_n"),
        )
    )
    return partial.groupBy(*keys).agg(
        *[
            F.array_sort(F.array_distinct(F.flatten(F.collect_list(f"_p_{c}")))).alias(f"set_{c}")
            for c in value_cols
        ],
        F.sum("_p_n").alias("count"),
    )
