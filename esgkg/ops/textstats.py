"""Text analysis operators over the documents table (doc_id, text): token
counting, language-ID, token frequency. All math is JVM-side (built-in
functions, whole-stage codegen).

`token_stats` and `token_frequency` tokenize as the q06/q08/q21 oracles
do: split on single spaces and drop the empty tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# A BPE-ish word/punct splitter (GPT-2-style coarse classes, no external lib).
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


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
