"""Knowledge completion — Spark-native heuristic link scorer (SURVEY.md U3).

Replaces the reference's GNN (`ESGKnowledgeCompletion.predict_links`,
contract per /root/reference/scripts/03_knowledge_completion.py:76-84 and
/root/reference/tests/test_knowledge_completion.py:42-49: per-source top-k
(node, prob) with prob in [0,1]) with Adamic-Adar + common-neighbor scoring
over the materialized edge table:

    m(a, z) ⋈ m(b, z) on z            -- triangle-style self-join
    → groupBy(a, b): count(*), Σ 1/ln(deg z)
    → anti-join existing edges        -- only propose NEW links
    → row_number() ≤ k per source     -- T3 window top-k

One core serves all three scorers. Its input is a distinct membership list
m(n, z), "n is adjacent to the shared vertex z": the undirected edge list
for `adamic_adar`, the (left, right) edge list for `bipartite_adamic_adar`,
and the rows whose z is a neighbor of the source for `predict_links`.
`_neighbors` checkpoints the list, asks `session.broadcastable` once, keeps
the z with 2 ≤ deg ≤ `MAX_DEGREE` and hash-partitions the rows on z;
`_pairs` self-joins them on z; `_score` sums the weights.

Scale notes: hub vertices are the skew risk, so z-degree is capped
(`MAX_DEGREE`) — a z with degree d contributes d² candidate pairs while its
1/ln(d) weight is negligible. While the gate says the list is small the
degree table is broadcast and the self-join is a shuffled-hash join; above
it both are pinned to sort-merge shuffle joins. AQE skew-join covers
residual imbalance.

The score does not depend on summation order: each weight splits exactly
into two integers at 2^-40 and 2^-80, the integers are summed exactly as
longs, and the two sums become one double once per pair. The same rows give
the same bits on any core count or partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import session as _session

# hub cap of every Adamic-Adar scorer: a shared vertex of higher degree is
# dropped (d² candidate pairs for a 1/ln(d) weight)
MAX_DEGREE = 1000
# bipartite pairs need at least this many shared right-side neighbors
MIN_SHARED = 2
# relations per source of the U4 stand-in (the reference's top_k)
INFER_TOP_K = 5


def undirected(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _neighbors(members: DataFrame) -> tuple[DataFrame, bool, DataFrame]:
    """The degree/neighbor step over a distinct (n, z) membership list:
    (the checkpointed list, the gate's answer for it, its (z, n, deg) rows
    whose z has 2 ≤ deg ≤ MAX_DEGREE, hash-partitioned on z).

    The list is checkpointed once (it feeds the degree table, both join
    sides and the callers' anti-joins) and probed once; the probe is cheap
    on the checkpoint and also bounds the degree table's size."""
    m = members.localCheckpoint(eager=True)
    small = _session.broadcastable(m)
    deg = (
        m.groupBy("z")
        .agg(F.count("*").alias("deg"))
        .filter(F.col("deg").between(2, MAX_DEGREE))  # hub cap
    )
    par = m.sparkSession.sparkContext.defaultParallelism
    return m, small, m.join(_session.gated(deg, small), "z").repartition(par, "z")


def _pairs(members: DataFrame) -> tuple[DataFrame, bool, DataFrame]:
    """`_neighbors`, then its rows paired on the shared z: (a, b, deg), one
    row per z that a < b share.

    Both sides are co-partitioned on z, so while the list is small a
    shuffled-hash join replaces sort-merge's two Sorts with one hash build
    per partition (measured ~6% faster warm and 2.5x faster cold than
    sort-merge on the sf0.1 co-purchase graph, identical rows); above the
    bound a partition's build side is no longer provably small, and
    sort-merge's graceful spill is worth the sorts."""
    m, small, nb = _neighbors(members)
    r = nb.hint("shuffle_hash" if small else "merge").alias("r")
    pairs = nb.alias("l").join(
        r, (F.col("l.z") == F.col("r.z")) & (F.col("l.n") < F.col("r.n"))
    ).select(F.col("l.n").alias("a"), F.col("r.n").alias("b"),
             F.col("l.deg").alias("deg"))
    return m, small, pairs


def _score(rows: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, common, aa_score): per group of `rows`, the row count and
    Σ 1/ln(deg).

    The sum is exact, so it does not depend on the order of its terms: the
    weight w = 2^-40·hi + 2^-80·lo splits exactly into two integers
    (hi = ⌊2^40·w⌋; lo is the next 40 bits, exact while w ≥ 2^-28),
    both are summed as longs and combined once. Exact while a pair shares
    fewer than 2^22 vertices (the hi sum stays below 2^63)."""
    x = F.lit(2.0 ** 40) / F.log("deg")  # 2^40·w, bit-equal
    hi = F.floor(x)
    lo = F.round((x - hi) * 2.0 ** 40).cast("long")
    return rows.groupBy(*keys).agg(
        F.count("*").alias("common"),
        F.sum(hi).alias("hi"),
        F.sum(lo).alias("lo"),
    ).select(
        *keys, "common",
        (F.col("hi") * 2.0 ** -40 + F.col("lo") * 2.0 ** -80).alias("aa_score"),
    )


def adamic_adar(edges: DataFrame, top_k: int = 10) -> DataFrame:
    """(src, dst, common_neighbors, aa_score, prob, rank) — proposed links:
    the top_k new links per source by Adamic-Adar score over the undirected
    graph."""
    und, small, pairs = _pairs(
        undirected(edges).select(F.col("a").alias("n"), F.col("b").alias("z"))
    )
    scored = _score(pairs, ["a", "b"]).toDF(
        "src", "dst", "common_neighbors", "aa_score"
    )
    # only links that don't already exist (either direction: und covers both)
    existing = und.select(F.col("n").alias("src"), F.col("z").alias("dst"))
    new_links = scored.join(
        _session.gated(existing, small), ["src", "dst"], "left_anti"
    )
    w = Window.partitionBy("src").orderBy(
        F.desc("aa_score"), F.desc("common_neighbors"), F.asc("dst")
    )
    return (
        new_links.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .withColumn("prob", 1.0 - F.exp(-F.col("aa_score")))
        .select("src", "dst", "common_neighbors", "aa_score", "prob", "rank")
    )


def predict_links(edges: DataFrame, source_id: int,
                  top_k: int = 5) -> list[tuple[int, float]]:
    """The recovered U3 contract
    (`ESGKnowledgeCompletion.predict_links(graph, source_node, top_k)`,
    call sites /root/reference/scripts/03_knowledge_completion.py:76-84,
    shape assertions /root/reference/tests/test_knowledge_completion.py:42-49):
    exactly top_k (node, prob) pairs for one source, prob in [0, 1],
    descending. Backed by the Adamic-Adar scorer instead of the GNN.

    Per-source contract → per-source plan: only the source's 2-hop
    neighborhood is scored, never a graph-wide AA. The membership list
    holds every row of each z ∈ N1(source), so a z's degree counted on it
    is its global degree, and scoring reads the graph once, for the
    undirected projection. Every z of the list is shared with the source, so the
    candidates are its other members, with no pair join."""
    und = undirected(edges).localCheckpoint(eager=True)
    n1 = und.filter(F.col("a") == source_id).select(F.col("b").alias("z"))
    _, _, nb = _neighbors(
        und.select(F.col("a").alias("n"), F.col("b").alias("z"))
        .join(F.broadcast(n1), "z")  # z restricted to N1(source): small
    )
    scored = (
        _score(nb.filter(F.col("n") != source_id), ["n"])
        # propose only NEW links: drop existing neighbors of the source
        .join(n1.withColumnRenamed("z", "n"), "n", "left_anti")
    )
    rows = (
        scored.orderBy(F.desc("aa_score"), F.desc("common"), F.asc("n"))
        .limit(top_k)
        .withColumn("prob", 1.0 - F.exp(-F.col("aa_score")))
        .select("n", "prob")
        .collect()
    )
    out = [(int(r.n), float(r.prob)) for r in rows]
    # pad to exactly top_k with zero-probability fillers (the reference
    # contract returns exactly k pairs even for sparse neighborhoods)
    if len(out) < top_k:
        existing = {d for d, _ in out} | {source_id}
        fillers = (
            edges.select(F.col("dst").alias("n"))
            .union(edges.select(F.col("src").alias("n")))
            .distinct()
            .filter(~F.col("n").isin(list(existing)))
            .orderBy("n")
            .limit(top_k - len(out))
            .collect()
        )
        out += [(int(r.n), 0.0) for r in fillers]
    return out[:top_k]


def bipartite_adamic_adar(edges: DataFrame, left: str,
                          right: str) -> DataFrame:
    """Adamic-Adar over a bipartite edge list: score left-side pairs by their
    shared right-side neighbors, weight 1/ln(degree of shared neighbor).
    Returns (a, b, common, aa_score) with a < b and common ≥ MIN_SHARED.

    The same core as `adamic_adar` over the (left, right) list, used for
    e.g. q13's customer–part co-purchase graph; `MAX_DEGREE` drops the
    right-side hubs (the round-1 scale-killer on boilerplate-dense
    graphs)."""
    _, _, pairs = _pairs(
        edges.select(F.col(left).alias("n"), F.col(right).alias("z")).distinct()
    )
    return _score(pairs, ["a", "b"]).filter(F.col("common") >= MIN_SHARED)


# ---------------------------------------------------------------------------
# Ranking metrics (E1-E3) as window/aggregation ops
# (/root/reference/src/evaluation/metrics.py:140-180)
# ---------------------------------------------------------------------------

def hits_mrr_map(predicted: DataFrame, gold: DataFrame, k: int = 10) -> DataFrame:
    """predicted(src, dst, rank) vs gold(src, dst) → one row of
    (hits_at_k, mrr, map, n_queries), averaged over every source with a
    prediction at rank ≤ k (n_queries of them); a source none of whose
    predictions is a gold link scores 0."""
    hit = (
        predicted.filter(F.col("rank") <= k)
        .join(gold.withColumn("hit", F.lit(1)), ["src", "dst"], "left")
        .na.fill({"hit": 0})
    )
    run_w = (
        Window.partitionBy("src")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hit = hit.withColumn("cum_hits", F.sum("hit").over(run_w)).withColumn(
        "ap_term",
        F.when(
            F.col("hit") == 1, F.col("cum_hits") / F.col("rank")
        ).otherwise(0.0),
    )
    per_src = hit.groupBy("src").agg(
        (F.sum("hit") / F.lit(k)).alias("hits_at_k"),
        F.max(
            F.when(F.col("hit") == 1, 1.0 / F.col("rank")).otherwise(0.0)
        ).alias("mrr"),
        F.sum("hit").alias("n_hits"),
        F.sum("ap_term").alias("ap_sum"),
    )
    per_src = per_src.withColumn(
        "ap",
        F.when(F.col("n_hits") > 0, F.col("ap_sum") / F.col("n_hits")).otherwise(
            0.0
        ),
    )
    return per_src.agg(
        F.avg("hits_at_k").alias("hits_at_k"),
        F.avg("mrr").alias("mrr"),
        F.avg("ap").alias("map"),
        F.count("*").alias("n_queries"),
    )


# ---------------------------------------------------------------------------
# U4 — relation inference (deterministic stand-in for the reference's LLM)
# ---------------------------------------------------------------------------

def infer_relations(source: str, context: str | None = None) -> list[dict]:
    """U4 slot — the reference's ``infer_relations_with_llm`` contract
    (/root/reference/tests/test_knowledge_completion.py:9-21: a non-empty
    list of at most INFER_TOP_K {"target", "relation", "description"} dicts;
    call sites
    /root/reference/scripts/03_knowledge_completion.py:87-112 and README).
    The reference never shipped the implementation — the class module
    (src/models/knowledge_completion.py) is absent from the repo, so only
    the interface is recoverable. This recovers it behind a DETERMINISTIC
    template engine instead of a generative model (documented divergence,
    same policy as the U2 GNN replacement):

    * hierarchy neighbors first — the seed ontology's direct edges from/to
      the source, carrying their true relation type;
    * then same-category concepts ranked by hash-embedding cosine to the
      source (the U6 encoder), with relation 'related_to';
    * descriptions from a fixed Japanese template (the `context` argument is
      echoed into the description exactly as the reference prompt embeds it).

    Driver-side and Spark-free like the reference's per-concept LLM loop;
    `infer_relations_table` below is the distributed bulk variant.
    """
    import numpy as np

    from .. import kernel, vocab

    out: list[dict] = []
    seen: set[str] = set()

    def add(target: str, relation: str, why: str) -> None:
        if target in seen or target == source or len(out) >= INFER_TOP_K:
            return
        seen.add(target)
        desc = f"{source}は{target}と{relation}の関係にある（{why}）"
        if context:
            desc += f"。文脈: {context}"
        out.append({"target": target, "relation": relation,
                    "description": desc})

    for child, parent, rel in vocab.HIERARCHY:
        if child == source and parent != "ROOT":
            add(parent, rel, "オントロジー階層の親概念")
    for child, parent, rel in vocab.HIERARCHY:
        if parent == source:
            add(child, rel, "オントロジー階層の子概念")
    if len(out) < INFER_TOP_K:
        cat = vocab.concept_category()
        src_cat = cat.get(source)
        pool = sorted(
            c
            for c, _, _ in vocab.HIERARCHY
            if c != source and (src_cat is None or cat.get(c) == src_cat)
        )
        if pool:
            v = kernel.hash_embed(source)
            mat = np.stack([kernel.hash_embed(c) for c in pool])
            sims = mat @ v
            order = sorted(
                range(len(pool)), key=lambda i: (-float(sims[i]), pool[i])
            )
            for i in order:
                add(pool[i], "related_to",
                    f"埋め込み類似度{float(sims[i]):.3f}の同カテゴリ概念")
                if len(out) >= INFER_TOP_K:
                    break
    return out


def infer_relations_table(spark, sources: DataFrame) -> DataFrame:
    """Bulk U4: one row per inferred relation for every source concept in
    the `name` column — (source, target, relation, description, rank). The
    per-concept engine is a cheap pure function, so the bulk path is a
    shuffle-free mapInPandas over the source column (the reference loops
    its LLM on the driver;
    at corpus scale the sources table is distributed and so is this)."""
    import pandas as pd

    from pyspark.sql import types as T

    _session.ensure_shipped(spark)
    schema = T.StructType(
        [
            T.StructField("source", T.StringType(), False),
            T.StructField("target", T.StringType(), False),
            T.StructField("relation", T.StringType(), False),
            T.StructField("description", T.StringType(), False),
            T.StructField("rank", T.IntegerType(), False),
        ]
    )

    def run(batches):
        from esgkg.stages import complete as _c

        for pdf in batches:
            rows = []
            for s in pdf["name"]:
                if not isinstance(s, str) or not s:
                    continue
                for rank, rel in enumerate(_c.infer_relations(s), start=1):
                    rows.append(
                        (s, rel["target"], rel["relation"],
                         rel["description"], rank)
                    )
            yield pd.DataFrame(
                rows,
                columns=["source", "target", "relation", "description",
                         "rank"],
            )

    return sources.select("name").mapInPandas(run, schema=schema)
