"""Keyword categorization (P3) — multi-label E/S/G section emit.

Idiomatic-Spark version of the reference's per-row keyword loop
(/root/reference/scripts/05_text_extraction.py:85-106): build one boolean per
category from broadcast-literal keyword lists, assemble
array(struct(category, matched)), filter + explode — one row per matched
category, all JVM-side (whole-stage codegen, zero Python).

At 100 TB scale the k× contains() scan is still a single pass over the text
column (no shuffle); with thousands of keywords the Aho-Corasick pandas-UDF
variant `categorize_large` applies instead.
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


def categorize_large(text_df: DataFrame) -> DataFrame:
    """P3 at dictionary scale: one Aho-Corasick pass per row inside an
    Arrow-batched UDF instead of k× contains(). Output rows match
    `categorize` exactly (pytest-asserted); use this variant when the
    keyword dictionary is thousands of entries (GRI/SASB/TCFD-scale)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .. import session as _session

    _session.ensure_shipped(text_df.sparkSession)
    kmap = vocab.CATEGORY_KEYWORDS
    schema = T.StructType(
        text_df.schema.fields + [T.StructField("category", T.StringType(), False)]
    )
    cols = text_df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg.kernel import AhoCorasick

        ac = AhoCorasick(
            {kw: cat for cat, kws in kmap.items() for kw in kws}
        )
        cat_order = list(kmap)
        for pdf in batches:
            rows = []
            for tup in pdf.itertuples(index=False):
                rec = dict(zip(cols, tup))
                text = rec["text"]
                if not isinstance(text, str) or not text.strip():
                    continue
                hits = ac.search(text)
                for cat in cat_order:
                    if cat in hits:
                        rows.append({**rec, "category": cat})
            yield pd.DataFrame(rows, columns=cols + ["category"])

    return text_df.mapInPandas(run, schema=schema)


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
