"""Deduplication operators over a document table (doc_id, text), and the
MinHash-LSH blocking core that canonicalization shares.

* exact      — hash groupBy; keeper = min(doc_id) per identical text.
* lsh_candidates — MinHash-LSH blocking: banded signatures → one groupBy of
               bucket member arrays under the MAX_BUCKET cap → pairs emitted
               map-side, plus an exact-key pass over the whole pool. The
               candidate generator of `minhash_near_dup_pairs` and of
               `canon.candidate_pairs`; each puts its own verifier on top.
* minhash    — near-dup documents: `lsh_candidates` → exact-Jaccard verify.
* char jaccard — exact verified similarity on bounded candidate sets.

Scale notes: both near-dup families are blocking-based (no all-pairs cross
join). The bucket-size cap bounds the pair explosion from boilerplate-heavy
corpora (the classic web-dedup skew).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session as _session

# LSH blocking, shared by canonicalization and document dedup (both of
# canon's rungs read these when called, so one monkeypatch reaches both):
# MinHash signature length and band count fix the candidate recall curve.
K = 32
BANDS = 16
# LSH buckets with more members are dropped (skew guard: a bucket of n
# members emits n² candidate pairs)
MAX_BUCKET = 64
# character shingle width of document near-dup signatures and verify
SHINGLE = 5


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One row per distinct text: (keep_id, n_dupes). JVM-side only.

    Groups on (md5, xxhash64, length) content hashes instead of the raw text
    so the shuffle key is ~30 bytes, not the document body (at 100 TB the
    full-text key IS the corpus). Two independent hashes + the exact length
    make a false merge ~2^-192-improbable — the collision-verify margin."""
    text = F.col("text")
    key = [F.md5(text), F.xxhash64(text, F.lit(7)), F.length(text)]
    return (
        docs.groupBy(*key)
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_dupes"),
        )
        .select("keep_id", "n_dupes")
    )


def lsh_candidates(rows: DataFrame, ngram: int,
                   exact_key: Column) -> DataFrame:
    """Candidate pairs (a, b), a < b, not yet distinct, over `(key, text)`
    rows with unique keys. Rows whose text is empty or null get no pairs.

    Banding: char-`ngram` MinHash signatures (from the batch kernel) split
    into BANDS band hashes. One shuffle groups band rows into sorted member
    arrays, buckets over MAX_BUCKET members are dropped (skew guard), and
    pairs are emitted MAP-SIDE from each array with higher-order functions,
    so the band rows are shuffled once.

    Exact recovery: rows with an equal `exact_key` (a Column over `text`)
    pair to their group's min key — O(n) rows, never O(n²) — in one groupBy
    over the whole pool that does not read the band table, so the banding
    chain evaluates once. Identical texts have identical signatures and
    share every bucket, so a content-hash key restores exactly what the cap
    drops for them; a coarser key (canon's whitespace-stripped surface)
    also pairs the variants it equates. Near-but-not-equal members of a
    dropped bucket remain the accepted recall loss of the cap (the trade
    every web-scale dedup makes)."""
    spark = rows.sparkSession
    _session.ensure_shipped(spark)
    schema = T.StructType(
        [
            T.StructField("key", rows.schema["key"].dataType, False),
            T.StructField("band_id", T.IntegerType(), False),
            T.StructField("band_hash", T.LongType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel

        for pdf in batches:
            sigs = kernel.minhash_signatures_batch(
                list(pdf["text"]), k=K, ngram=ngram
            )
            yield pd.DataFrame(
                [
                    (key, bi, bh)
                    for key, sig in zip(pdf["key"], sigs)
                    for bi, bh in enumerate(kernel.band_hashes(sig, BANDS))
                ],
                columns=["key", "band_id", "band_hash"],
            )

    live = rows.select("key", "text").filter(F.col("text") != "")
    # explicit repartition: AQE coalesces a byte-tiny pool to ~1 partition,
    # but the minhash kernel is CPU-heavy per row — spread it across cores
    par = spark.sparkContext.defaultParallelism
    ms = F.col("ms")
    buckets = (
        live.repartition(par).mapInPandas(run, schema=schema)
        .groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("key")).alias("ms"))
        .filter((F.size(ms) >= 2) & (F.size(ms) <= MAX_BUCKET))
    )
    pair_arrays = F.transform(
        ms,
        lambda x, i: F.transform(
            F.slice(ms, i + F.lit(2), F.size(ms)),
            lambda y: F.struct(x.alias("a"), y.alias("b")),
        ),
    )
    lsh = buckets.select(F.explode(F.flatten(pair_arrays)).alias("p"))
    exact = (
        live.groupBy(exact_key.alias("x"))
        .agg(F.sort_array(F.collect_list("key")).alias("ms"))
        .filter(F.size(ms) >= 2)
        .select(
            ms[0].alias("a"), F.explode(F.slice(ms, 2, F.size(ms))).alias("b")
        )
    )
    return lsh.select("p.a", "p.b").unionByName(exact)


def minhash_near_dup_pairs(docs: DataFrame,
                           jaccard_threshold: float = 0.7) -> DataFrame:
    """Near-duplicate (a, b, jaccard) document pairs, a < b: `lsh_candidates`
    over SHINGLE-char shingles with the md5 of the text as the exact key,
    then an exact-Jaccard verify, which alone decides precision. Identical
    texts pair at jaccard 1.0 even when every bucket they share was capped
    (each to the min doc_id of its text)."""
    cand = lsh_candidates(
        docs.select(F.col("doc_id").alias("key"), "text"),
        SHINGLE,
        F.md5("text"),
    ).distinct()
    texts = docs.select("doc_id", "text")
    cand = cand.join(texts.toDF("a", "ta"), "a").join(
        texts.toDF("b", "tb"), "b"
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel

        for pdf in batches:
            out = pdf[["a", "b"]].copy()
            out["jaccard"] = [
                kernel.jaccard(ta, tb, SHINGLE)
                for ta, tb in zip(pdf["ta"], pdf["tb"])
            ]
            yield out

    return cand.mapInPandas(verify, "a long, b long, jaccard double").filter(
        F.col("jaccard") >= jaccard_threshold
    )


def char_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Character-set Jaccard similarity pairs within equal-`n_chars` blocks
    (bounded candidate set) — fully JVM-side (no Python), and expressible in
    ANSI SQL for the differential oracle."""
    d = docs.select(
        F.col("doc_id").alias("id"),
        F.col("n_chars").alias("blk"),
        F.array_distinct(F.split(F.col("text"), "")).alias("chars"),
    )
    l, r = d.alias("l"), d.alias("r")
    inter = F.size(F.array_intersect(F.col("l.chars"), F.col("r.chars")))
    union = F.size(F.array_union(F.col("l.chars"), F.col("r.chars")))
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
