"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exactness baseline: JVM-side dot product via
  zip_with + aggregate (no Python in the loop), TakeOrderedAndProject top-k.
* LSH-bucketed ANN — the scale path: random-hyperplane signatures bucket the
  corpus; queries probe only their bucket (and neighbors), turning an O(N)
  scan into an O(N/2^b) probe. Deterministic planes (seeded).
* batch k-NN join — Arrow-batched matmul per partition against a broadcast
  query matrix, pre-reduced to top-k per partition.

Every operator reads the embeddings table's (vec_id, embedding) columns.
The random planes are seeded by a module constant, so an index built once
matches every later probe.

All scoring math is double-precision and sequential-order stable so the
DuckDB differential oracle can reproduce values bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session as _session

N_TABLES = 12      # LSH tables per signature
ANN_PLANES = 6     # bits per table in ann_topk's index
PROBE_HAMMING = 1  # ann_topk also probes buckets within this many bits
LSH_SEED = 1234
# cap on the collected+broadcast probe side of the batch k-NN join
MAX_QUERIES = 100_000


def lit_vector(v) -> Column:
    """A literal array<double> column."""
    return F.array(*[F.lit(float(x)) for x in v])


def dot(x: Column, y: Column) -> Column:
    """JVM-side dot product of two array<double> columns, summed in element
    order in double precision."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(x: Column) -> Column:
    """JVM-side L2 norm of an array<double> column, in element order."""
    return F.sqrt(F.aggregate(x, F.lit(0.0), lambda acc, v: acc + v * v))


def _batch_matrix(pdf: pd.DataFrame) -> np.ndarray:
    """An Arrow batch's embedding column as a float64 (rows × dim) matrix."""
    return np.stack(pdf["embedding"].to_numpy()).astype(np.float64)


def cosine_topk(embeddings: DataFrame, qvec: list[float],
                k: int = 10) -> DataFrame:
    """Exact brute-force cosine top-k: (id, score) ordered desc, id-tiebreak.

    Compiles to one scan + TakeOrderedAndProject (no full sort, no shuffle of
    the score column beyond the k-row reduction)."""
    qn = float(np.sqrt(np.sum(np.asarray(qvec, dtype=np.float64) ** 2)))
    vec = F.col("embedding").cast("array<double>")
    score = dot(vec, lit_vector(qvec)) / (norm(vec) * F.lit(qn))
    return (
        embeddings.select(F.col("vec_id").alias("id"), score.alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def _lsh_planes(dim: int) -> np.ndarray:
    rng = np.random.RandomState(LSH_SEED)
    return rng.standard_normal((N_TABLES, dim, ANN_PLANES))


def hyperplane_signatures(embeddings: DataFrame) -> DataFrame:
    """(id, table, bucket) multi-table random-hyperplane LSH signatures —
    L independent tables of b bits each (standard recall amplification:
    P(candidate) = 1-(1-p^b)^L for per-plane agreement p)."""
    _session.ensure_shipped(embeddings.sparkSession)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("table", T.IntegerType(), False),
            T.StructField("bucket", T.IntegerType(), False),
        ]
    )
    pows = 1 << np.arange(ANN_PLANES)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if planes is None:
                planes = _lsh_planes(len(pdf["embedding"].iloc[0]))
            mat = _batch_matrix(pdf)
            ids = pdf["vec_id"].astype(np.int64).to_numpy()
            frames = []
            for t in range(N_TABLES):
                buckets = ((mat @ planes[t]) > 0).dot(pows).astype(np.int32)
                frames.append(
                    pd.DataFrame(
                        {"id": ids, "table": np.int32(t), "bucket": buckets}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, schema=schema
    )


def ann_topk(embeddings: DataFrame, qvec: list[float], k: int = 10,
             signatures: DataFrame | None = None) -> DataFrame:
    """Multi-table LSH approximate top-k: score only vectors that share a
    bucket (within `PROBE_HAMMING` bits) with the query in ANY table.

    `signatures`: a precomputed (id, table, bucket) table from
    `hyperplane_signatures`.
    The signature table is the ANN *index*: at corpus scale it is
    materialized once and probed by every query; recomputing it per query
    re-hashes the whole corpus (the round-2 scale flag). Compute-if-absent
    keeps the single-query call self-contained."""
    q = np.asarray(qvec, dtype=np.float64)
    planes = _lsh_planes(len(q))
    pows = 1 << np.arange(ANN_PLANES)
    probe_rows = []
    for t in range(N_TABLES):
        qb = int(((q @ planes[t]) > 0).dot(pows))
        buckets = {qb}
        if PROBE_HAMMING >= 1:
            for i in range(ANN_PLANES):
                buckets.add(qb ^ (1 << i))
        for b in buckets:
            probe_rows.append((t, b))
    spark = embeddings.sparkSession
    probes = F.broadcast(
        spark.createDataFrame(probe_rows, "table int, bucket int")
    )
    sig = signatures if signatures is not None else hyperplane_signatures(
        embeddings
    )
    cand_ids = sig.join(probes, ["table", "bucket"]).select("id").distinct()
    cand = embeddings.join(
        cand_ids.withColumnRenamed("id", "vec_id"), "vec_id", "left_semi"
    )
    return cosine_topk(cand, qvec, k)


def scored_topk_per_partition(embeddings: DataFrame, queries: DataFrame,
                              k: int = 5) -> DataFrame:
    """The map side of the batch k-NN join: per PARTITION, the exact top-k
    corpus neighbors of every query — (query_id, id, score), at most Q×k
    rows per non-empty partition (the partial-reduce contract a global
    window then finishes).

    Per Arrow batch: one (Q×dim)·(dim×B) matmul, then `np.partition` keeps
    only rows whose score reaches the per-query k-th largest (boundary ties
    included, so no true top-k member under the (score desc, id asc) order
    can be cut) — fully vectorized, no per-row Python loop, never Q×B rows
    shipped (the round-1/round-2 scale flag). The per-batch survivors are
    reduced to exactly Q×k rows per partition with one pandas sort.

    The queries side is collected and broadcast (the 'probe table'
    contract), so it must be driver-small: `MAX_QUERIES` (read when
    called) fails loud instead of OOMing the driver on a misused
    corpus-sized probe side (the limit(n+1) collect never ships more than
    n+1 rows even when the caller passes a huge DataFrame). For a genuinely
    large probe side, block-partition the queries and union per-block
    joins, or use the LSH index path."""
    _session.ensure_shipped(embeddings.sparkSession)
    qrows = (
        queries.select("vec_id", "embedding").limit(MAX_QUERIES + 1).collect()
    )
    if len(qrows) > MAX_QUERIES:
        raise ValueError(
            f"the kNN probe (queries) side exceeds MAX_QUERIES="
            f"{MAX_QUERIES} in scored_topk_per_partition; it is "
            "collected+broadcast and must be small (block-partition the "
            "queries, or use the ann index)"
        )
    qids = np.asarray([int(r[0]) for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    sc = embeddings.sparkSession.sparkContext
    bq = sc.broadcast((qids, qmat))

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("id", T.LongType(), False),
            T.StructField("score", T.DoubleType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = bq.value
        parts = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _batch_matrix(pdf)
            # unit rows; a zero row stays zero
            mat = mat / np.clip(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12, None
            )
            scores = qm @ mat.T  # (Q, B)
            vids = pdf["vec_id"].to_numpy().astype(np.int64)
            b = scores.shape[1]
            if k < b:
                # k-th largest score per query; keep every entry reaching it
                kth = -np.partition(-scores, k - 1, axis=1)[:, k - 1]
                qi, bi = np.nonzero(scores >= kth[:, None])
            else:
                qi, bi = np.nonzero(np.ones_like(scores, dtype=bool))
            parts.append(
                pd.DataFrame(
                    {
                        "query_id": ids[qi],
                        "id": vids[bi],
                        "score": scores[qi, bi],
                    }
                )
            )
        if parts:
            allc = pd.concat(parts, ignore_index=True).sort_values(
                ["query_id", "score", "id"], ascending=[True, False, True]
            )
            yield allc.groupby("query_id", sort=False).head(k)

    return embeddings.select("vec_id", "embedding").mapInPandas(
        run, schema=schema
    )


def pairwise_topk_join(embeddings: DataFrame, queries: DataFrame,
                       k: int = 5) -> DataFrame:
    """Batch k-NN join: for every query vector, the top-k corpus neighbors.

    Arrow-batched matrix multiply per partition against a broadcast query
    matrix (the queries side must be small enough to broadcast — the classic
    'probe table' shape). The map side pre-reduces to ≤ Q×k rows per
    partition (`scored_topk_per_partition`); the window is the final
    exact reduce over Q×k×partitions rows, not Q×N."""
    scored = scored_topk_per_partition(embeddings, queries, k)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
