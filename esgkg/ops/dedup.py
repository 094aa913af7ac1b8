"""Deduplication operators for large-scale training-data pipelines.

Five families over a document table (doc_id, text) or, for
embedding-cosine, the embeddings table (vec_id, embedding):

* exact      — hash groupBy; keeper = min(doc_id) per identical text.
* minhash    — MinHash+LSH near-dup: shingle → minhash → band → bucket join
               → exact-Jaccard verify, plus an exact content-hash pass over
               oversized buckets (the signatures of canonicalization, tuned
               for documents).
* simhash    — 64-bit SimHash over tokens; near-dups = small hamming distance
               within same band prefix.
* ngram/char jaccard — exact verified similarity on bounded candidate sets.
* embedding-cosine — semantic near-dup over an embedding column:
               hyperplane-LSH blocking + exact JVM cosine verification.

Scale notes: every family is blocking-based (no all-pairs cross join). The
three LSH families share one blocking step, `_bucket_pairs`: a bucket-size
histogram, then a self-join within the buckets under the size cap, which
bounds the pair explosion from boilerplate-heavy corpora (the classic
web-dedup skew).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session as _session
from ..stages import canon

# embedding_near_dup_pairs' LSH blocking: bits per table and bucket cap
EMB_PLANES = 8
EMB_MAX_BUCKET = 1024


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


def _bucket_pairs(rows: DataFrame, bucket: list[str],
                  max_bucket: int) -> tuple[DataFrame, DataFrame]:
    """The blocking step every LSH family shares. `rows` holds one
    (id, *bucket) row per signature band; two ids are a candidate when they
    share a bucket of at most `max_bucket` members.

    Returns (pairs, dropped): pairs is one (a, b) row, a < b, per shared
    kept bucket (callers `distinct` or count them); dropped is the rows
    whose bucket exceeded the cap. The cap bounds the quadratic self-join
    on boilerplate-heavy corpora, where millions of rows collapse into one
    bucket (the classic web-dedup skew). The rows are checkpointed because
    they feed the size histogram, both join sides and `dropped`."""
    rows = rows.localCheckpoint(eager=True)
    sizes = rows.groupBy(*bucket).agg(F.count("*").alias("n"))
    kept = rows.join(sizes.filter(F.col("n") <= max_bucket).select(*bucket),
                     bucket)
    dropped = rows.join(sizes.filter(F.col("n") > max_bucket).select(*bucket),
                        bucket)
    l, r = kept.alias("l"), kept.alias("r")
    on = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in bucket]
    pairs = l.join(r, [*on, F.col("l.id") < F.col("r.id")]).select(
        F.col("l.id").alias("a"), F.col("r.id").alias("b")
    )
    return pairs, dropped


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

    bands_rows = docs.select("doc_id", "text").mapInPandas(
        mk_bands, schema=bands_schema
    )
    pairs, dropped = _bucket_pairs(
        bands_rows, ["band_id", "band_hash"], max_bucket
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


def minhash_dedup_components(docs: DataFrame, **kw) -> DataFrame:
    """Near-dup clusters: (doc_id, cluster_id) via connected components over
    the verified pair graph (cluster representative = the numerically
    smallest doc_id; the union-find runs on string ids, so its own
    representative is only a component label)."""
    pairs = minhash_near_dup_pairs(docs, **kw).select(
        F.col("a").cast("string").alias("a"),
        F.col("b").cast("string").alias("b"),
    )
    comp = canon.connected_components(pairs).select(
        F.col("surface").cast("long").alias("doc_id"), "canonical"
    )
    return comp.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy("canonical"))
        .alias("cluster_id"),
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(id, simhash) 64-bit token-level SimHash per document."""
    _session.ensure_shipped(docs.sparkSession)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("simhash", T.LongType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel

        for pdf in batches:
            rows = [
                (int(i), kernel.simhash64(kernel.tokenize(t or "")))
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=["id", "simhash"])

    return docs.select("doc_id", "text").mapInPandas(run, schema=schema)


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3,
                           max_bucket: int = 64) -> DataFrame:
    """SimHash near-dup pairs: block on 16-bit prefix bands (a pair within
    hamming distance d ≤ 3 of a 64-bit hash agrees exactly on at least one of
    4 16-bit bands — pigeonhole), verify exact hamming distance JVM-side.

    Oversized band buckets are dropped — their members are
    exact/near-identical boilerplate that the exact-dedup pass catches by
    hash."""
    # checkpoint: the signatures feed the bands AND both hash lookups
    sig = simhash_signatures(docs).localCheckpoint(eager=True)
    bands = [
        sig.select(
            "id",
            F.lit(bi).alias("band_id"),
            F.shiftrightunsigned(F.col("simhash"), bi * 16)
            .bitwiseAND(F.lit(0xFFFF))
            .alias("band_val"),
        )
        for bi in range(4)
    ]
    pairs, _ = _bucket_pairs(
        reduce(DataFrame.union, bands), ["band_id", "band_val"], max_bucket
    )
    return (
        pairs.distinct()
        .join(sig.select(F.col("id").alias("a"), F.col("simhash").alias("ha")),
              "a")
        .join(sig.select(F.col("id").alias("b"), F.col("simhash").alias("hb")),
              "b")
        .withColumn("hamming",
                    F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
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


def embedding_near_dup_pairs(embeddings: DataFrame,
                             threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine) — the
    semantic-dedup family: random-hyperplane LSH blocking (the same
    signature machinery as `simsearch.ann_topk`, `EMB_PLANES` bits per
    table) bounds the candidate set, then the exact cosine is verified
    JVM-side (`simsearch.dot` — no Python in the verify). A pair colliding
    in ANY of the `simsearch.N_TABLES` tables becomes a candidate;
    `EMB_MAX_BUCKET` caps bucket fan-out (embedding-space boilerplate —
    near-zero or templated vectors — is the skew risk). Recall for a true
    pair at cosine s is 1-(1-p^b)^L with p = 1 - arccos(s)/π: with b=8,
    L=12 and s=0.95, p ≈ 0.899, p^8 ≈ 0.426, recall ≈ 1-(1-0.426)^12 ≈
    0.9987."""
    from . import simsearch

    sig = simsearch.hyperplane_signatures(embeddings, EMB_PLANES)
    pairs, _ = _bucket_pairs(sig, ["table", "bucket"], EMB_MAX_BUCKET)
    vec = F.col("embedding").cast("array<double>")
    va, vb = F.col("va"), F.col("vb")
    return (
        pairs.distinct()
        .join(embeddings.select(F.col("vec_id").alias("a"), vec.alias("va")),
              "a")
        .join(embeddings.select(F.col("vec_id").alias("b"), vec.alias("vb")),
              "b")
        .withColumn("cosine", simsearch.dot(va, vb)
                    / (simsearch.norm(va) * simsearch.norm(vb)))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )
