"""Canonicalization: MinHash-LSH blocking → pair verification → iterative
connected components → triple rewrite (SURVEY.md §2.8 C1-C4, G7).

The reference canonicalizes only by exact name equality (Neo4j MERGE {name},
/root/reference/src/knowledge_graph/neo4j_manager.py:62; NetworkX node
identity, /root/reference/src/knowledge_graph/ontology.py:91). The build
target upgrades this to surface-form merging at web scale:

1. **C1 blocking** — `dedup.lsh_candidates`, the MinHash-LSH core shared
   with document dedup: per-surface MinHash signatures (deterministic
   universal hashing, esgkg.kernel.minhash_signatures_batch) split into
   LSH bands, one groupBy into bucket arrays, pairs emitted map-side.
   Skew control: buckets over `dedup.MAX_BUCKET` members are dropped (hub
   surfaces like boilerplate strings would otherwise produce quadratic
   pair blowup), and a whitespace-normalized exact pass recovers what the
   cap drops for equal surfaces.
2. **C2 verify** — exact char-3gram Jaccard AND edit similarity on
   candidate pairs (vectorized pandas UDF), threshold filter.
3. **C3 connected components** — driver union-find for a pair graph of at
   most PAIR_THRESHOLD edges, else min-label propagation as a DataFrame
   self-join fixpoint run until no label changes, localCheckpoint every
   CHECKPOINT_EVERY rounds to cut lineage.
4. **C4 rewrite** — `map_surfaces` replaces columns through the canonical
   map (left join, identity fallback): subj and obj of the triples here,
   the node names in `graph.materialize_nodes_from_stats`. The map is
   broadcast while `session.broadcastable` says it is small, else a
   sort-merge shuffle join (`session.gated`).
"""

from __future__ import annotations

import itertools
import re
from collections import defaultdict
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session as _session
from ..ops import dedup

# whitespace class for the normalized-exact recovery pass — spelled out
# explicitly because Java's \s is ASCII-only while Python's is Unicode-aware
# (U+3000 ideographic space matters for Japanese surfaces); both rungs use
# this identical class so they stay byte-equal
WS_CLASS = "[ \\t\\n\\r\\f\\x0B\\u00A0\\u3000]+"

# which rung the most recent canonical_map took: "driver" | "dist_pairs" |
# "dist_cc" — observability hook for tests asserting the distributed branch
# actually runs at bench scale
LAST_STRATEGY: str | None = None

# Verification parameters. The shingle width (with `dedup.K`/`BANDS`) fixes
# the candidate recall curve; the conjunctive verify thresholds fix purity.
# Every rung (driver and distributed) uses these same values, so the rungs
# stay byte-equal.
NGRAM = 3
JACCARD_THRESHOLD = 0.5
EDIT_THRESHOLD = 0.88
# distributed CC fixpoint: cut lineage and test for convergence every
# CHECKPOINT_EVERY rounds
CHECKPOINT_EVERY = 3
# verified pair graphs of at most this many edges finish with the driver
# union-find; larger ones take the distributed CC fixpoint
PAIR_THRESHOLD = 200_000
# column order of the canonical triples table
TRIPLE_COLUMNS = ("subj", "pred", "obj", "url", "confidence")


def _min_label_components(pairs) -> dict[str, str]:
    """Union-find over (a, b) edges: every vertex that occurs maps to the
    smallest vertex of its component (min-label union keeps the
    deterministic representative). The driver-side CC of both
    `connected_components` and `canonical_map_local`."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def candidate_pairs(surfaces: DataFrame) -> DataFrame:
    """LSH candidate pairs (a < b) over the `surface` column, already
    filtered by edit similarity ≥ EDIT_THRESHOLD. The caller passes a
    distinct pool: `canonical_map`'s is distinct on both of its branches.

    Blocking is `dedup.lsh_candidates` with each surface as both key and
    text. Its exact key is the whitespace-stripped surface: the surface pool
    is already distinct, so an exact-text pass would recover nothing, but
    whitespace variants of one surface that share only dropped buckets
    still pair (to the group's min surface) and flow through the SAME
    conjunctive verification as LSH candidates, so purity is unchanged.

    The JVM edit-similarity filter runs BEFORE the dedup shuffle: a pair
    colliding in several bands is emitted several times, but only
    survivors reach the distinct, and it drops the ~99% of candidates that
    share a legal-suffix shingle but nothing else before any python verify."""
    s = F.col("surface")
    cand = dedup.lsh_candidates(
        surfaces.select(s.alias("key"), s.alias("text")),
        NGRAM,
        F.regexp_replace(F.col("text"), WS_CLASS, ""),
    )
    # JVM levenshtein counts UTF-16 code units, equal to the kernel's DP
    # for BMP text
    edit_sim = F.lit(1.0) - F.levenshtein(F.col("a"), F.col("b")) / F.greatest(
        F.length("a"), F.length("b"), F.lit(1)
    )
    return cand.filter(edit_sim >= EDIT_THRESHOLD).distinct()


def verify_pairs(pairs: DataFrame) -> DataFrame:
    """C2 — conjunctive pair verification: exact char-ngram Jaccard (recall
    side, confirms the LSH estimate) AND edit similarity (precision side,
    rejects lookalikes that share shingles but differ structurally, e.g.
    same-sector company names whose stems overlap), both in the python
    kernel (shared source of truth with the driver-local rung).
    `candidate_pairs` already applied the edit threshold as a JVM filter, so
    python touches only the verified-scale row count."""
    _session.ensure_shipped(pairs.sparkSession)
    schema = T.StructType(
        [
            T.StructField("a", T.StringType(), False),
            T.StructField("b", T.StringType(), False),
            T.StructField("sim", T.DoubleType(), False),
            T.StructField("edit_sim", T.DoubleType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel

        for pdf in batches:
            out = pdf.copy()
            out["sim"] = [
                kernel.jaccard(a, b, NGRAM) for a, b in zip(pdf["a"], pdf["b"])
            ]
            out["edit_sim"] = [
                kernel.edit_similarity(a, b)
                for a, b in zip(pdf["a"], pdf["b"])
            ]
            yield out[["a", "b", "sim", "edit_sim"]]

    # repartition for the same reason as the banding: the candidate-pair set
    # is byte-tiny (AQE → 1 partition) but the edit-distance DP is O(len²)
    # CPU per row
    par = pairs.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(par).mapInPandas(run, schema=schema).filter(
        (F.col("sim") >= JACCARD_THRESHOLD)
        & (F.col("edit_sim") >= EDIT_THRESHOLD)
    )


def connected_components(pairs: DataFrame) -> tuple[DataFrame, bool]:
    """Min-label propagation over (a, b) edges → ((surface, canonical),
    on_driver).

    canonical = lexicographically smallest surface in the component
    (deterministic representative).

    Scale-adaptive: a verified near-dup pair graph is usually orders of
    magnitude smaller than the corpus, so when it fits comfortably on the
    driver (≤ PAIR_THRESHOLD edges, probed with limit(threshold+1)) we run
    exact union-find locally — none of the iterative-join latency. Above it
    the distributed fixpoint runs: each round is one join + one groupBy
    (both on the node key, so AQE reuses the partitioning), labels move one
    hop per round, and the loop runs until a round changes no label (G7),
    with a localCheckpoint every CHECKPOINT_EVERY rounds to cut lineage.
    `on_driver` says which of the two ran."""
    spark = pairs.sparkSession
    # single job: grab up to threshold+1 rows; only fall back to the
    # distributed fixpoint when the pair graph is genuinely large
    head = pairs.limit(PAIR_THRESHOLD + 1).collect()
    if len(head) <= PAIR_THRESHOLD:
        out = sorted(_min_label_components(head).items())
        return spark.createDataFrame(
            out, "surface string, canonical string"
        ), True
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    for rounds in itertools.count(1):
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
        )
        new_labels = (
            labels.union(nbr).groupBy("node").agg(F.min("label").alias("label"))
        )
        if rounds % CHECKPOINT_EVERY == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            labels = new_labels
    return labels.select(
        F.col("node").alias("surface"), F.col("label").alias("canonical")
    ), False


def canonical_map_local(surfaces: list[str]) -> dict[str, str]:
    """Driver-side canonical map over a small distinct-surface set — the
    exact same LSH banding + whitespace recovery + conjunctive verification
    + min-label union-find the distributed path computes, byte-for-byte
    (shared kernel functions). Used by `canonical_map` below when the
    surface set fits on the driver."""
    from .. import kernel

    pool = [s for s in surfaces if s]
    buckets: dict[tuple[int, int], list[str]] = defaultdict(list)
    sigs = kernel.minhash_signatures_batch(pool, k=dedup.K, ngram=NGRAM)
    for s, sig in zip(pool, sigs):
        for bi, bh in enumerate(kernel.band_hashes(sig, dedup.BANDS)):
            buckets[(bi, bh)].append(s)
    cands: set[tuple[str, str]] = set()
    for members in buckets.values():
        if len(members) <= dedup.MAX_BUCKET:
            cands.update(itertools.combinations(sorted(set(members)), 2))
    # whitespace-normalized exact recovery, as in candidate_pairs
    norm_groups: dict[str, list[str]] = defaultdict(list)
    for s in pool:
        norm_groups[re.sub(WS_CLASS, "", s)].append(s)
    for members in norm_groups.values():
        ms = sorted(set(members))
        cands.update((ms[0], m) for m in ms[1:])
    comp = _min_label_components(
        (x, y) for x, y in cands
        if kernel.jaccard(x, y, NGRAM) >= JACCARD_THRESHOLD
        and kernel.edit_similarity(x, y) >= EDIT_THRESHOLD
    )
    return {s: comp.get(s, s) for s in surfaces}


def canonical_map(surfaces: DataFrame,
                  exclude_exact: list[str] | None = None,
                  driver_threshold: int = 4_096,
                  assume_distinct: bool = False) -> DataFrame:
    """`surface` column → (surface, canonical) for every input surface
    (identity for singletons).

    Merging is the transitive closure over verified pairs: two variants that
    are each similar to a bridging surface merge through it, but two distant
    variants whose bridge never occurs in the corpus stay separate (standard
    CC semantics — completeness is conditional on observed bridges, purity is
    unconditional).

    `exclude_exact`: surfaces that are already canonical by construction
    (the ontology dictionary) are excluded from pair generation so that
    distinct but textually close concepts (e.g. コンプライアンス vs
    コンプライアンス体制) are never merged.

    Strategy ladder (scale-adaptive):
    1. ≤ `driver_threshold` distinct surfaces → everything on the driver
       (collect + local LSH/verify/union-find). Test/seed scale only; the
       LSH hashing is single-threaded here, so this rung must stay tiny —
       round 1 ran it up to 100k surfaces and the serial hashing became a
       scaling-gate tail.
    2. otherwise → DISTRIBUTED banding + verification (mapInPandas, scales
       with cores); the verified near-dup pair graph is orders of magnitude
       smaller than the vocabulary, so ≤ PAIR_THRESHOLD pairs finish with
       a driver union-find (exact, no iterative-join latency), and only a
       genuinely huge pair graph takes the distributed CC fixpoint.

    `assume_distinct`: the caller guarantees one row per surface AND that
    the input is already materialized (e.g. the pipeline's checkpointed
    surface_stats groupBy output). Skips this function's own
    distinct+localCheckpoint — at bench scale that pair of vocabulary-wide
    shuffle jobs is ~7 s of fixed latency paid identically at every core
    count."""
    # one distinct over the (large) surface stream feeds both the LSH pool
    # and the identity join — computed once, reused (skipped entirely when
    # the caller already holds the distinct, materialized pool)
    global LAST_STRATEGY
    all_s = surfaces.select("surface")
    if not assume_distinct:
        all_s = all_s.distinct().localCheckpoint(eager=True)
    spark = surfaces.sparkSession
    head = all_s.limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        LAST_STRATEGY = "driver"
        excl = set(exclude_exact or ())
        pool_local = [r[0] for r in head if r[0] and r[0] not in excl]
        cm = canonical_map_local(pool_local)
        rows = sorted(
            (s, cm.get(s, s)) for s in (r[0] for r in head) if s is not None
        )
        return spark.createDataFrame(rows, "surface string, canonical string")
    pool = all_s
    if exclude_exact:
        pool = pool.filter(~F.col("surface").isin(exclude_exact))
    # the banding→bucket→pair→verify chain is ONE lazy plan; the (tiny)
    # verified pair set is collected exactly once by connected_components'
    # size probe, so no intermediate materialization is needed on the
    # dist_pairs rung (the common one). Only the rare dist_cc rung
    # (> PAIR_THRESHOLD verified pairs) re-evaluates the chain.
    pairs = verify_pairs(candidate_pairs(pool)).select("a", "b")
    comp, on_driver = connected_components(pairs)
    LAST_STRATEGY = "dist_pairs" if on_driver else "dist_cc"
    # the union-find result is tiny (≤ PAIR_THRESHOLD pairs) → broadcast it
    # into the identity join over the full vocabulary
    comp = F.broadcast(comp) if on_driver else comp
    return (
        all_s.join(comp, "surface", "left")
        .select(
            "surface",
            F.coalesce(F.col("canonical"), F.col("surface")).alias("canonical"),
        )
    )


def map_surfaces(df: DataFrame, canon: DataFrame,
                 cols: list[str]) -> DataFrame:
    """Replace each of `cols` through the canonical map `canon` (surface,
    canonical): left joins, so unmapped values stay as they are; the
    columns keep their order.

    The map is one row per DISTINCT corpus surface — unbounded at web scale
    — so it is broadcast only while `session.broadcastable` says it is
    small, one probe for all of `cols` (the pipeline checkpoints the map
    before this). Above the bound every lookup is a sort-merge join on the
    surface key; AQE splits residual skew."""
    c = _session.gated(canon, _session.broadcastable(canon))
    out = df
    for col in cols:
        out = out.join(
            c.withColumnRenamed("surface", col).withColumnRenamed(
                "canonical", f"{col}_canon"
            ),
            col,
            "left",
        )
    return out.select(*(
        F.coalesce(f"{col}_canon", col).alias(col) if col in cols else col
        for col in df.columns
    ))


def rewrite_triples(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """C4: rewrite subj and obj through the canonical map."""
    return map_surfaces(triples, canon, ["subj", "obj"]).select(
        *TRIPLE_COLUMNS
    )
