"""Keyword categorization (P3) — multi-label E/S/G section emit.

Idiomatic-Spark version of the reference's per-row keyword loop
(/root/reference/scripts/05_text_extraction.py:85-106): build one boolean per
category from broadcast-literal keyword lists, assemble
array(struct(category, matched)), filter + explode — one row per matched
category, all JVM-side (whole-stage codegen, zero Python).

At 100 TB scale the k× contains() scan is still a single pass over the text
column (no shuffle); the oracle's `kernel.categorize` is the same predicate
in python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import vocab


def _any_kw(col: Column, kws: tuple[str, ...]) -> Column:
    out = F.lit(False)
    for kw in kws:
        out = out | F.contains(col, F.lit(kw))
    return out


def categorize(text_df: DataFrame) -> DataFrame:
    """(…, text) → (…, category, text) with one row per matched category;
    rows with empty text are dropped (P2)."""
    c = F.col("text")
    structs = [
        F.struct(
            F.lit(cat).alias("category"), _any_kw(c, kws).alias("matched")
        )
        for cat, kws in vocab.CATEGORY_KEYWORDS.items()
    ]
    return (
        text_df.filter(F.length(F.trim(c)) > 0)
        .withColumn(
            "_cat",
            F.explode(F.filter(F.array(*structs), lambda s: s["matched"])),
        )
        .withColumn("category", F.col("_cat.category"))
        .drop("_cat")
    )
