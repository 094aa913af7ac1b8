"""Knowledge completion — Spark-native heuristic link scorer (SURVEY.md U3).

Replaces the reference's GNN (`ESGKnowledgeCompletion.predict_links`,
contract per /root/reference/scripts/03_knowledge_completion.py:76-84 and
/root/reference/tests/test_knowledge_completion.py:42-49: per-source top-k
(node, prob) with prob in [0,1]) with Adamic-Adar + common-neighbor scoring
over the materialized edge table:

    und(a, z) ⋈ und(b, z) on z        -- triangle-style self-join
    → groupBy(a, b): sum(1/ln(deg z)), count(*)
    → anti-join existing edges        -- only propose NEW links
    → row_number() ≤ k per source     -- T3 window top-k

Scale notes: the self-join key is the shared neighbor z; hub vertices are the
skew risk, so z-degree is capped (`MAX_DEGREE`) — standard practice since a
z with degree d contributes d² candidate pairs while its 1/ln(d) weight is
negligible. AQE skew-join covers residual imbalance. Both Adamic-Adar
scorers broadcast while `session.broadcastable` says their neighbor or edge
table is small, and shuffle above that.
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


def adamic_adar(edges: DataFrame, top_k: int = 10) -> DataFrame:
    """(src, dst, common_neighbors, aa_score, prob, rank) — proposed links.

    Size-gated join strategy: while `session.broadcastable` says the
    neighbor table is small, the triangle self-join broadcasts one side
    (the explosion stays map-side and the only shuffle is the
    partially-aggregated groupBy); above it — a
    web-scale edge table is the whole graph, which must never be shipped to
    every executor — it runs as a repartitioned self-join on the shared
    vertex z with AQE skew-split handling the residual imbalance the
    `MAX_DEGREE` hub cap has already bounded."""
    # und feeds the degree table, the neighbor lists AND the existing-edge
    # anti-join — checkpoint so the distinct shuffle runs once. Eager
    # localCheckpoint rather than persist(): checkpointed RDDs are released
    # by the ContextCleaner as soon as the result DataFrame is unreachable,
    # so repeated calls in a long-lived session don't accumulate executor
    # storage the way never-unpersisted caches do.
    und = undirected(edges).localCheckpoint(eager=True)
    deg = und.groupBy(F.col("a").alias("z")).agg(F.count("*").alias("deg"))
    # neighbor lists keyed by the shared vertex z
    nbrs = und.select(F.col("b").alias("z"), F.col("a").alias("n"))
    nbrs = nbrs.join(
        F.broadcast(deg.filter(F.col("deg") <= MAX_DEGREE)), "z"
    )  # hub cap: drops negligible-weight, quadratic-cost hubs
    # round-robin repartition before the checkpoint: the neighbor table is
    # byte-small (AQE coalesces it to ~1 partition) but the pair self-join
    # explodes deg² rows per z — per-partition CPU, so spread z rows evenly
    par = edges.sparkSession.sparkContext.defaultParallelism
    nbrs = nbrs.repartition(par).localCheckpoint(eager=True)
    l = nbrs.alias("l")
    r = (
        F.broadcast(nbrs.alias("r"))
        if _session.broadcastable(nbrs)  # cheap: checkpointed above
        else nbrs.repartition("z").alias("r")
    )
    cand = (
        l.join(r, (F.col("l.z") == F.col("r.z")) & (F.col("l.n") < F.col("r.n")))
        .select(
            F.col("l.n").alias("src"),
            F.col("r.n").alias("dst"),
            F.col("l.z").alias("z"),
            F.col("l.deg").alias("deg_z"),
        )
        .filter(F.col("deg_z") >= 2)
    )
    scored = cand.groupBy("src", "dst").agg(
        F.count("*").alias("common_neighbors"),
        F.sum(1.0 / F.log(F.col("deg_z"))).alias("aa_score"),
    )
    # only links that don't already exist (either direction: und covers both)
    existing = und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    new_links = scored.join(existing, ["src", "dst"], "left_anti")
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
    neighborhood is scored (z ∈ N(source), candidates ∈ N(z)); the full
    graph is touched just twice — the undirected projection and the global
    degree table the 1/ln(deg) weights need — never a graph-wide AA."""
    und = undirected(edges).localCheckpoint(eager=True)
    deg = und.groupBy(F.col("a").alias("z")).agg(F.count("*").alias("deg"))
    n1 = (
        und.filter(F.col("a") == source_id)
        .select(F.col("b").alias("z"))
        .distinct()
    )
    nbrs = (
        und.select(F.col("b").alias("z"), F.col("a").alias("n"))
        .join(F.broadcast(n1), "z")  # z restricted to N1(source): small
        .join(
            F.broadcast(deg.filter(F.col("deg") <= MAX_DEGREE)), "z"
        )
        .filter(F.col("n") != source_id)
        .filter(F.col("deg") >= 2)
    )
    scored = (
        nbrs.groupBy("n")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum(1.0 / F.log(F.col("deg"))).alias("aa_score"),
        )
        # propose only NEW links: drop existing neighbors of the source
        .join(n1.withColumnRenamed("z", "n"), "n", "left_anti")
    )
    rows = (
        scored.orderBy(
            F.desc("aa_score"), F.desc("common_neighbors"), F.asc("n")
        )
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

    Same triangle-join shape as `adamic_adar`, reused for e.g. the
    customer–part co-purchase graph in the driver's differential checks.
    `MAX_DEGREE` caps the shared-neighbor degree, mirroring `adamic_adar`: a
    right-side hub with degree d emits d² pairs while contributing a
    negligible 1/ln(d) weight — dropping hubs bounds the blowup (the round-1
    scale-killer on boilerplate-dense graphs).

    Plan shape: the distinct edge list is checkpointed once (it feeds the
    degree table AND both join sides), the degree dimension is broadcast
    while small (size-gated — it is one row per right-side key, unbounded
    at web scale), and the self-join input is hash-partitioned on the
    shared key so the pair explosion is co-located. Measured 2x faster
    than the join-then-self-join shape on the sf0.1 co-purchase graph."""
    e = (
        edges.select(F.col(left).alias("c"), F.col(right).alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # cheap: checkpointed; the edge count bounds the deg-table size
    small = _session.broadcastable(e)
    deg = e.groupBy("p").agg(F.count("*").alias("deg_p"))
    deg = deg.filter((F.col("deg_p") >= 2) & (F.col("deg_p") <= MAX_DEGREE))
    if small:
        deg = F.broadcast(deg)
    par = edges.sparkSession.sparkContext.defaultParallelism
    ed = e.join(deg, "p").repartition(par, "p")
    l = ed.alias("l")
    # size-gated shuffled-hash join for the pair self-join (guide §3.1):
    # both sides are co-partitioned on p, so SHJ replaces the two
    # sort-merge Sorts with one per-partition hash build — measured ~6%
    # faster warm and 2.5x faster on the cold first execution (no sort
    # codegen to JIT) at sf0.1, identical rows. Gated by the same edge
    # count as the degree broadcast: above the threshold a partition's
    # build side is no longer provably small, and sort-merge's graceful
    # spill is worth the sorts.
    r = ed.hint("shuffle_hash").alias("r") if small else ed.alias("r")
    return (
        l.join(r, (F.col("l.p") == F.col("r.p")) & (F.col("l.c") < F.col("r.c")))
        .select(
            F.col("l.c").alias("a"),
            F.col("r.c").alias("b"),
            F.col("l.deg_p").alias("deg_p"),
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("common"),
            F.sum(1.0 / F.log(F.col("deg_p"))).alias("aa_score"),
        )
        .filter(F.col("common") >= MIN_SHARED)
    )


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
