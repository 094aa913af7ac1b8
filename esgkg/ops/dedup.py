"""Deduplication operators over a document table (doc_id, text).

* exact      — hash groupBy; keeper = min(doc_id) per identical text.
* minhash    — MinHash+LSH near-dup: shingle → minhash → band → bucket join
               → exact-Jaccard verify, plus an exact content-hash pass over
               oversized buckets (the signatures of canonicalization, tuned
               for documents).
* char jaccard — exact verified similarity on bounded candidate sets.

Scale notes: both near-dup families are blocking-based (no all-pairs cross
join). The MinHash bucket join runs under a bucket-size cap, which bounds
the pair explosion from boilerplate-heavy corpora (the classic web-dedup
skew).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session as _session


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


def minhash_near_dup_pairs(docs: DataFrame, k: int = 32, bands: int = 16,
                           shingle: int = 5,
                           jaccard_threshold: float = 0.7,
                           max_bucket: int = 64) -> DataFrame:
    """Near-duplicate id pairs via MinHash-LSH + exact-Jaccard verify.

    Shingles are character n-grams of the document text (word-shingles are a
    one-line change in the kernel). Signatures come from
    `kernel.minhash_signatures_batch`, the function canonicalization uses.
    Every pair that shares a kept band bucket reaches the exact-Jaccard
    verify, which alone decides precision.

    Oversized band buckets (boilerplate skew) are excluded from the
    quadratic pair join; their members are diverted to an EXACT
    content-hash pass — identical texts in a dropped bucket still pair
    (jaccard 1.0, pairing each doc to the min-id keeper of its hash group,
    so the recovery emits O(n) rows, never O(n²)). Near-but-not-identical
    members of a dropped bucket remain the accepted recall loss of the
    cap — that is the skew/recall trade every web-scale dedup makes."""
    _session.ensure_shipped(docs.sparkSession)

    bands_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("band_id", T.IntegerType(), False),
            T.StructField("band_hash", T.LongType(), False),
        ]
    )

    def mk_bands(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel

        for pdf in batches:
            pdf = pdf[pdf["text"].fillna("") != ""]
            sigs = kernel.minhash_signatures_batch(
                list(pdf["text"]), k=k, ngram=shingle
            )
            rows = [
                (int(i), bi, bh)
                for i, sig in zip(pdf["doc_id"], sigs)
                for bi, bh in enumerate(kernel.band_hashes(sig, bands))
            ]
            yield pd.DataFrame(rows, columns=["id", "band_id", "band_hash"])

    # checkpointed: the band rows feed the size histogram, both join sides
    # and the dropped rows
    bands_rows = docs.select("doc_id", "text").mapInPandas(
        mk_bands, schema=bands_schema
    ).localCheckpoint(eager=True)
    bucket = ["band_id", "band_hash"]
    sizes = bands_rows.groupBy(*bucket).agg(F.count("*").alias("n"))
    kept = bands_rows.join(
        sizes.filter(F.col("n") <= max_bucket).select(*bucket), bucket
    )
    dropped = bands_rows.join(
        sizes.filter(F.col("n") > max_bucket).select(*bucket), bucket
    )
    l, r = kept.alias("l"), kept.alias("r")
    pairs = l.join(r, [F.col("l.band_id") == F.col("r.band_id"),
                       F.col("l.band_hash") == F.col("r.band_hash"),
                       F.col("l.id") < F.col("r.id")]).select(
        F.col("l.id").alias("a"), F.col("r.id").alias("b")
    )
    cand = pairs.distinct().join(
        docs.select(F.col("doc_id").alias("a"), F.col("text").alias("ta")), "a"
    ).join(
        docs.select(F.col("doc_id").alias("b"), F.col("text").alias("tb")), "b"
    )

    verify_schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.LongType(), False),
            T.StructField("jaccard", T.DoubleType(), False),
        ]
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel

        for pdf in batches:
            out = pdf[["a", "b"]].copy()
            out["jaccard"] = [
                kernel.jaccard(ta, tb, shingle)
                for ta, tb in zip(pdf["ta"], pdf["tb"])
            ]
            yield out

    verified = (
        cand.mapInPandas(verify, schema=verify_schema)
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    dd = docs.select(
        F.col("doc_id").alias("id"), F.md5(F.col("text")).alias("h")
    ).join(dropped.select("id").distinct(), "id")
    keep = dd.groupBy("h").agg(F.min("id").alias("keep_id"))
    exact_pairs = (
        dd.join(keep, "h")
        .filter(F.col("id") != F.col("keep_id"))
        .select(
            F.col("keep_id").alias("a"),
            F.col("id").alias("b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # a pair can appear in both passes (caught in a small bucket AND an
    # oversized one) — keep one row per (a, b), preferring the exact pass
    return (
        verified.unionByName(exact_pairs)
        .groupBy("a", "b")
        .agg(F.max("jaccard").alias("jaccard"))
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
