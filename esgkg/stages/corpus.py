"""Distributed synthesis + HTML→text extraction stages.

Synthesis distributes `spark.range(n)` across executors and calls the pure
kernel per id (Arrow-batched) — identical bytes to the single-node oracle by
construction. Extraction is the byte-identical invariant stage: the pandas
UDF calls the exact `kernel.page_text` the oracle calls (Python-regex
semantics; never Java-side string ops — SURVEY.md risk R2).

Scale notes (100 TB design):
- pages would be an Iceberg table partitioned by days(warc_ts); here the
  synthetic generator stands in for the scan, already parallel by id range.
- Extraction is embarrassingly parallel (mapInPandas, no shuffle); the only
  data movement is the Arrow batch driver↔python-worker channel.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session as _session

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

TEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def synth_pages(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic distributed pages table: one row per id in [0, n), the
    pure `synth.make_page` per id, Arrow-batched. The org pool scales with n
    (synth.default_groups) so downstream graph stages grow with the
    corpus."""
    _session.ensure_shipped(spark)
    from esgkg import synth

    n_groups = synth.default_groups(n)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import synth

        for pdf in batches:
            rows = [synth.make_page(int(i), seed, n_groups) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA])

    ids = spark.range(
        0, n, numPartitions=spark.sparkContext.defaultParallelism
    )
    return ids.mapInPandas(gen, schema=PAGES_SCHEMA)


def extract_text(pages: DataFrame) -> DataFrame:
    """pages → (url, warc_ts, text, lang): clean_text ∘ extract_text via the
    shared kernel (byte-identical invariant, BASELINE.json input_hint)."""
    _session.ensure_shipped(pages.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel

        for pdf in batches:
            out = pdf[["url", "warc_ts", "lang"]].copy()
            out["text"] = [
                kernel.page_text(h) for h in pdf["html"]
            ]
            yield out[["url", "warc_ts", "text", "lang"]]

    return pages.mapInPandas(run, schema=TEXT_SCHEMA)


_WRAP_PREFIX = (
    "<html><head><style>p{margin:0}</style>"
    "<script>var i=1&amp;&lt;2;</script></head>"
    "<body><!-- doc --><div><p>\n\t"
)
_WRAP_SUFFIX = "\n</p></div></body></html>"


def wrap_documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a pages-shaped table from the driver's read-only documents
    parquet: deterministic HTML wrapping of each document's text. Used by the
    externally-checked extraction roundtrip query (the DuckDB oracle is just
    ``SELECT doc_id, text FROM documents`` — extraction must invert the
    wrapper exactly).

    The wrapper is a fixed prefix + text + fixed suffix, so it compiles to
    JVM concat + UTF-8 encode (round 6; previously a mapInPandas stage).
    Consumers that feed the bytes to the python extraction kernel now pay
    ONE JVM→python hop instead of two — the wrap stage's Arrow round-trip
    (ship text out, ship wrapped bytes back) was pure overhead. Bytes are
    identical: Spark's encode(.., 'UTF-8') and Python's str.encode('utf-8')
    produce the same octets for any valid string."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.encode(
            F.concat(
                F.lit(_WRAP_PREFIX), F.col("text"), F.lit(_WRAP_SUFFIX)
            ),
            "UTF-8",
        ).alias("html"),
        "lang",
    )
