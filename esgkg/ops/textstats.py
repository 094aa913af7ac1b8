"""Text analysis operators over the documents table (doc_id, text): token
counting, quality scoring, language-ID, document fingerprinting, token
frequency. All hot-path math is JVM-side (built-in functions, whole-stage
codegen); only the blake2b fingerprint drops to an Arrow-batched pandas UDF.

`token_stats` and `token_frequency` tokenize as the q06/q08/q21 oracles
do: split on single spaces and drop the empty tokens.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session as _session

# A BPE-ish word/punct splitter (GPT-2-style coarse classes, no external lib).
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")


def token_stats(docs: DataFrame) -> DataFrame:
    """(id, n_ws_tokens, n_bpeish_tokens, n_chars_calc) — space-split and
    regex token counts, all JVM-side."""
    c = F.col("text")
    toks = F.filter(F.split(c, " "), lambda t: t != "")
    return docs.select(
        F.col("doc_id").alias("id"),
        F.size(toks).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(c, F.lit(BPE_ISH), F.lit(0))).alias(
            "n_bpeish_tokens"
        ),
        F.length(c).alias("n_chars_calc"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """(id, n_tokens, mean_token_len, punct_ratio, stopword_ratio,
    quality_score) — length/punct/stopword heuristics over one pass."""
    c = F.col("text")
    toks = F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")
    n_tok = F.size(toks)
    n_punct = F.length(c) - F.length(
        F.regexp_replace(c, r"[^\w\s]", "")
    )
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(s) for s in STOPWORDS]))
    )
    mean_len = (
        F.length(F.regexp_replace(c, r"\s+", "")) / F.greatest(n_tok, F.lit(1))
    )
    punct_ratio = n_punct / F.greatest(F.length(c), F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tok, F.lit(1))
    quality = (
        F.lit(1.0)
        - F.least(punct_ratio * 2, F.lit(0.5))
        - F.when(stop_ratio < 0.01, 0.25).otherwise(0.0)
        - F.when(n_tok < 5, 0.25).otherwise(0.0)
    )
    return docs.select(
        F.col("doc_id").alias("id"),
        n_tok.alias("n_tokens"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(id, lang_pred) — deterministic char-class heuristic: the dominant
    script among latin / cjk / kana decides; digits & punct are neutral.
    (n-gram model slot; the heuristic is the sandbox-deterministic stand-in)."""
    c = F.col("text")
    latin = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    kana = F.length(F.regexp_replace(c, r"[^ぁ-んァ-ヶー]", ""))
    cjk = F.length(F.regexp_replace(c, r"[^一-龯]", ""))
    return docs.select(
        F.col("doc_id").alias("id"),
        F.when((kana + cjk) > latin, F.lit("ja"))
        .otherwise(F.lit("latin"))
        .alias("lang_pred"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """(id, md5_fp, blake_fp) — md5 (JVM, oracle-reproducible) and 64-bit
    blake2b (kernel) content fingerprints."""
    _session.ensure_shipped(docs.sparkSession)
    with_md5 = docs.select(
        F.col("doc_id").alias("id"),
        F.md5(F.col("text")).alias("md5_fp"),
        F.col("text").alias("_t"),
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("md5_fp", T.StringType(), False),
            T.StructField("blake_fp", T.LongType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel

        for pdf in batches:
            out = pdf[["id", "md5_fp"]].copy()
            out["blake_fp"] = [kernel.fingerprint64(t or "") for t in pdf["_t"]]
            yield out

    return with_md5.mapInPandas(run, schema=schema)


def token_frequency(docs: DataFrame, top_n: int | None = None) -> DataFrame:
    """(token, freq) global token frequency — F4/A4: explode + hash agg
    (map-side partial agg comes free); optional deterministic top-N via
    orderBy+limit (TakeOrderedAndProject — never a single-partition window)."""
    tok = (
        docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    if top_n is not None:
        tok = tok.orderBy(F.desc("freq"), F.asc("token")).limit(top_n)
    return tok


def top_third_keywords(docs: DataFrame) -> DataFrame:
    """The reference's keyword extraction (metrics.py:273-280): top ⌊V/3⌋
    tokens by frequency, count-then-lexicographic order. Two passes over one
    cached frequency table (count V, then take top ⌊V/3⌋)."""
    # eager localCheckpoint, not persist(): released by the ContextCleaner
    # once the result is unreachable (a never-unpersisted cache accumulates
    # executor storage across repeated calls in a long-lived session)
    freq = token_frequency(docs).localCheckpoint(eager=True)
    total = freq.count()
    return freq.orderBy(F.desc("freq"), F.asc("token")).limit(total // 3)
