"""Skew-handling utilities (SURVEY.md §4): explicit salting for hot keys.

AQE's skew-join splitting covers joins, but a skewed ``groupBy`` still
funnels a hot key into one reducer. ``salted_count``/``salted_sum`` are the
standard two-phase fix: spray each key over `SALT` sub-keys (partial
aggregate per sub-key), then combine the partials — same result, bounded
per-task input.

Nothing in the pipeline calls them today: the LSH bucket counts and degree
aggregations rely on map-side partial aggregation and AQE. They are the
drop-in for a groupBy whose key skew exceeds what a map-side partial
aggregate absorbs (extremely hot keys with high-cardinality payloads).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT = 16


def salted_count(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """groupBy(key).count() with two-phase salting: identical output,
    per-reducer input bounded to ~1/SALT of the hottest key."""
    salted = df.withColumn(
        "_salt", (F.spark_partition_id() % F.lit(SALT)).cast("int")
    )
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.count("*").alias("_partial")
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_partial").alias("count")
    )


def salted_sum(df: DataFrame, key_cols: list[str], value: Column,
               out_name: str = "sum") -> DataFrame:
    """groupBy(key).sum(value) with two-phase salting."""
    salted = df.withColumn(
        "_salt", (F.spark_partition_id() % F.lit(SALT)).cast("int")
    ).withColumn("_v", value)
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.sum("_v").alias("_partial")
    )
    return partial.groupBy(*key_cols).agg(F.sum("_partial").alias(out_name))

