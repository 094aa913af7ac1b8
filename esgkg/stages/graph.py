"""Graph materialization + traversal/metrics operators.

Replaces the reference's Neo4j layer
(/root/reference/src/knowledge_graph/neo4j_manager.py) with DataFrame tables:

* nodes(id, name, category, kind, attributes) — kind routing per
  /root/reference/scripts/06_ontology_construction.py:42-47; E/S/G category
  from the full hierarchy closure (fixing the depth-limited membership bug of
  neo4j_manager.py:118-126 — documented divergence, SURVEY.md S8).
* edges(src, dst, relation, confidence, url) — endpoint inner-join before
  write reproduces Cypher MATCH-then-MERGE silent-drop semantics
  (neo4j_manager.py:88-92): an edge whose endpoint is missing is dropped.

Size-gated joins: the node build maps raw names through the canonical map
with `canon.map_surfaces`, and the J3 name dimension is broadcast while
`session.broadcastable` says the node table is small, else pinned to a
sort-merge shuffle join (`session.gated`).

ids are deterministic 64-bit name hashes (stable across runs/executors —
never monotonically_increasing_id, which is partition-layout dependent).

Traversals (bounded BFS = Cypher `ESG_RELATION*1..d`, neo4j_manager.py:155-167)
and structural metrics (orphans, degrees) are DataFrame joins/aggregations.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session as _session
from .. import vocab
from . import canon


# column order of the edges table
EDGE_COLUMNS = ("src", "dst", "relation", "confidence", "url")


def _name_id(col):
    # xxhash64 is Spark-native, deterministic, seedable; good enough for ids.
    return F.xxhash64(col, F.lit(42))


def seed_graph(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """The ontology seed (D6) as nodes/edges DataFrames."""
    cat = vocab.concept_category()
    node_rows = [("ROOT", "Other", "Concept")] + [
        (c, cat.get(c, "Other"), "Concept") for c, _, _ in vocab.HIERARCHY
    ] + [(law, cat.get(law, "Other"), "Concept") for law in vocab.LAWS]
    edge_rows = [(c, p, r) for c, p, r in vocab.HIERARCHY]
    nodes = spark.createDataFrame(
        sorted(set(node_rows)), "name string, category string, kind string"
    )
    edges = spark.createDataFrame(
        sorted(set(edge_rows)), "src_name string, dst_name string, relation string"
    )
    return nodes, edges


def _nodes(names: DataFrame, spark: SparkSession) -> DataFrame:
    """(name, is_inst, mentions) rows, any number per name, plus the
    ontology seed → one node row per name: max(is_inst) decides the kind,
    mentions are summed, the category comes from the hierarchy closure.
    Checkpointed eagerly, so consumers never recompute the aggregation."""
    seed_nodes, _ = seed_graph(spark)
    names_agg = (
        names.unionByName(
            seed_nodes.select(
                "name",
                F.lit(False).alias("is_inst"),
                F.lit(0).cast("long").alias("mentions"),
            )
        )
        .groupBy("name")
        .agg(
            F.max("is_inst").alias("is_instance"),
            F.sum("mentions").alias("mentions"),
        )
    )
    cat = vocab.concept_category()
    cat_df = F.broadcast(
        spark.createDataFrame(sorted(cat.items()), "name string, cat string")
    )
    return (
        names_agg.join(cat_df, "name", "left")
        .select(
            _name_id(F.col("name")).alias("id"),
            "name",
            F.coalesce("cat", F.lit("Other")).alias("category"),
            F.when(F.col("is_instance"), F.lit("Instance"))
            .otherwise(F.lit("Concept"))
            .alias("kind"),
            F.create_map(
                F.lit("mentions"), F.col("mentions").cast("string")
            ).alias("attributes"),
        )
        .localCheckpoint(eager=True)
    )


def materialize_nodes(triples: DataFrame, spark: SparkSession) -> DataFrame:
    """The nodes half of `materialize` (see its docstring): `surface_stats`
    over the triple stream through the shared node build. Split out so
    nodes and edges can be built CONCURRENTLY — with `assume_closed` the
    edge plan does not depend on the node table."""
    _session.ensure_shipped(spark)
    return _nodes(surface_stats(triples), spark)


def surface_stats(linked: DataFrame) -> DataFrame:
    """(name, is_inst, mentions) per RAW surface — one explode+groupBy pass
    over the linked triple stream, shared by canonicalization (its distinct
    surface pool IS this key set) and the node build. The groupBy's map-side
    combine collapses the exploded endpoint stream (2 rows per triple) to
    the distinct-surface count per partition, so the shuffle ships the
    vocabulary, not the corpus. Reading only (subj, pred, obj) also lets
    parquet skip the url/confidence columns the old rewrite-then-aggregate
    node plan dragged through its joins — measured 5x cheaper at bench
    scale (round 4)."""
    ends = linked.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj").alias("name"),
                    (F.col("pred") == "instance_of").alias("is_inst"),
                ),
                F.struct(
                    F.col("obj").alias("name"), F.lit(False).alias("is_inst")
                ),
            )
        ).alias("e")
    ).select("e.*")
    return ends.groupBy("name").agg(
        F.max("is_inst").alias("is_inst"),
        F.count("*").cast("long").alias("mentions"),
    )


def materialize_nodes_from_stats(stats: DataFrame, cmap: DataFrame,
                                 spark: SparkSession) -> DataFrame:
    """Node build from the pre-aggregated `surface_stats` table: map each
    raw surface through the canonical map (`canon.map_surfaces`, the
    lookup rewrite_triples runs), re-aggregate by canonical name, union
    the ontology seed, then the node build `materialize_nodes` shares.
    Provably equal to materialize_nodes(rewrite_triples(linked, cmap))
    because max/sum are associative over the per-surface partial aggregates
    (pytest asserts equality on pipeline data). The joins and aggregations
    here touch only vocabulary-sized tables — the corpus-sized work already
    happened in the one surface_stats pass."""
    _session.ensure_shipped(spark)
    return _nodes(canon.map_surfaces(stats, cmap, ["name"]), spark)


def materialize_edges(
    triples: DataFrame, spark: SparkSession,
    nodes: DataFrame | None = None,
    assume_closed: bool = False,
) -> DataFrame:
    """The edges half of `materialize` (see its docstring). With
    `assume_closed` the endpoint-existence joins are skipped (ids hash
    directly from names) and `nodes` may be None; otherwise `nodes` must be
    the checkpointed output of `materialize_nodes`."""
    _session.ensure_shipped(spark)
    _, seed_edges = seed_graph(spark)
    all_edges = triples.select(
        F.col("subj").alias("src_name"),
        F.col("obj").alias("dst_name"),
        F.col("pred").alias("relation"),
        "confidence",
        "url",
    ).unionByName(
        seed_edges.withColumn("confidence", F.lit(1.0)).withColumn(
            "url", F.lit("seed://ontology")
        )
    )
    if assume_closed:
        resolved = all_edges.select(
            _name_id(F.col("src_name")).alias("src"),
            _name_id(F.col("dst_name")).alias("dst"),
            "relation",
            "confidence",
            "url",
        )
    else:
        if nodes is None:
            raise ValueError("materialize_edges needs nodes unless assume_closed")
        # J3 endpoint-existence inner joins (silent-drop semantics),
        # size-gated: broadcast the name dimension only while it is small
        names = nodes.select("name", "id")
        small = _session.broadcastable(nodes)  # cheap: nodes is checkpointed
        src = names.withColumnRenamed("name", "src_name").withColumnRenamed(
            "id", "src")
        dst = names.withColumnRenamed("name", "dst_name").withColumnRenamed(
            "id", "dst")
        resolved = all_edges.join(
            _session.gated(src, small), "src_name"
        ).join(_session.gated(dst, small), "dst_name")
    return (
        resolved.groupBy("src", "dst", "relation")
        .agg(F.max("confidence").alias("confidence"), F.min("url").alias("url"))
        .select(*EDGE_COLUMNS)
    )


def materialize(
    triples: DataFrame, spark: SparkSession,
    assume_closed: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """canonical triples (+ seed) → (nodes, edges).

    Node kind: a name that ever appears as subject of instance_of is an
    Instance, else Concept (scripts/06:42-47 routing applied post-linking).
    Category: hierarchy-closure category for dictionary concepts; Instances
    and unknown surfaces get 'Other' (classify-miss semantics of
    scripts/06:108-113).

    Nodes carry an ``attributes map<string,string>`` column (ref
    ontology.py:112 node attrs, the payload of the S6 MERGE `SET c +=
    $attributes` upsert, neo4j_manager.py:66-67): here the deterministic
    mention count over the triple stream.

    Determinism: node kind/category and edge (confidence, url) are resolved
    by explicit aggregation precedence (max(is_instance), max(confidence),
    min(url)) — never dropDuplicates, whose survivor is partition-order
    dependent. Nodes are checkpointed once inside this function so the edge
    endpoint joins (and any downstream consumer) never recompute the node
    aggregation. The name dimension is broadcast only while
    `session.broadcastable` says it is small; above that the endpoint
    resolution is a shuffle join on the name key (AQE handles residual
    skew) — a web-scale surface vocabulary does not fit in every executor.

    `assume_closed`: when the caller guarantees every triple endpoint IS a
    node (true for this pipeline by construction — nodes are derived from
    exactly the triple endpoints plus the seed), the J3 endpoint-existence
    joins are provably no-ops and edge ids are computed directly as the
    deterministic name hash: no dimension build, no join, a narrower
    shuffle (16-byte ids instead of name strings), and edges no longer
    depend on the nodes table at all. The default (False) keeps the
    reference's silent-drop semantics for arbitrary inputs; a pytest
    asserts both paths are identical on pipeline data."""
    nodes = materialize_nodes(triples, spark)
    edges = materialize_edges(
        triples, spark, nodes=nodes, assume_closed=assume_closed
    )
    return nodes, edges


# ---------------------------------------------------------------------------
# Traversal + metrics
# ---------------------------------------------------------------------------

def bfs(edges: DataFrame, start_ids: DataFrame, max_depth: int,
        relation: str | None = None) -> DataFrame:
    """G1 — variable-length path expansion from seed nodes:
    (node, depth, path_relations). Iterative frontier⋈edges with per-round
    dedup, matching Cypher `-[r:ESG_RELATION*1..d]->` + optional
    ALL(rel.type = $t) filter (neo4j_manager.py:155-167)."""
    e = edges
    if relation is not None:
        e = e.filter(F.col("relation") == relation)
    e = e.select("src", "dst", "relation")

    frontier = start_ids.select(
        F.col(start_ids.columns[0]).alias("node")
    ).withColumn("path_relations", F.array().cast("array<string>"))
    visited = frontier.withColumn("depth", F.lit(0))
    for d in range(1, max_depth + 1):
        step = (
            frontier.join(e, frontier.node == e.src)
            .select(
                F.col("dst").alias("node"),
                F.array_append(F.col("path_relations"), F.col("relation"))
                .alias("path_relations"),
            )
        )
        new = (
            step.join(visited.select("node"), "node", "left_anti")
            # deterministic representative path per node (Cypher returns one
            # row per path; we keep the lexicographically smallest path,
            # matching the per-node dedup of the reference's set-building at
            # graph_rag.py:189-210)
            .withColumn("_pk", F.array_join("path_relations", ">"))
            .groupBy("node")
            .agg(F.min(F.struct("_pk", "path_relations")).alias("m"))
            .select("node", F.col("m.path_relations").alias("path_relations"))
            .withColumn("depth", F.lit(d))
        )
        new = new.localCheckpoint(eager=True)
        if new.isEmpty():
            break
        visited = visited.unionByName(
            new.select("node", "path_relations", "depth")
        ).localCheckpoint(eager=True)
        frontier = new.select("node", "path_relations")
    return visited.select("node", "depth", "path_relations")


def degrees(edges: DataFrame) -> DataFrame:
    """(id, in_deg, out_deg) — A6 building block."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg")
    )
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("in_deg")
    )
    return out_d.join(in_d, "id", "full").select(
        "id",
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
    )


def orphans(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """G5 — nodes with no incident edge (left-anti against src ∪ dst)."""
    touched = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return nodes.join(touched, "id", "left_anti")


def induced_edges(edges: DataFrame, ids: DataFrame) -> DataFrame:
    """The edges with both endpoints in `ids` (a small table with an `id`
    column, broadcast): two semi-joins, so only the subgraph's edges leave
    the edge scan."""
    ids = F.broadcast(ids.select("id"))
    return edges.join(
        ids.withColumnRenamed("id", "src"), "src", "left_semi"
    ).join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")


def density(n_nodes: int, n_edges: int) -> float:
    """The reference's graph density 2E / (N(N-1)); 0.0 below two nodes."""
    return 2 * n_edges / (n_nodes * (n_nodes - 1)) if n_nodes > 1 else 0.0


def subconcepts(edges: DataFrame, nodes: DataFrame, concept: str) -> DataFrame:
    """G2 — is_a children of a concept; the reference's O(N) node scan
    (ontology.py:128-133) becomes a pruned filter + join."""
    target = nodes.filter(F.col("name") == concept).select(
        F.col("id").alias("dst")
    )
    return (
        edges.filter(F.col("relation") == "is_a")
        .join(F.broadcast(target), "dst")
        .join(nodes.withColumnRenamed("id", "src"), "src")
        .select("name")
    )


def export_ontology_json(nodes: DataFrame, edges: DataFrame,
                         path: str) -> None:
    """S4/D9 — small-export debug format matching the reference's JSON
    layout (/root/reference/src/knowledge_graph/ontology.py:170-188):
    {"nodes": [...names...], "edges": [{source, target, relation}],
    "relations": {...}}. Canonical storage stays the parquet tables; this is
    the interchange format only (collects to the driver — use on ontology-
    scale graphs, not the full corpus graph)."""
    import json

    from .. import vocab

    name_of = {r.id: r.name for r in nodes.select("id", "name").collect()}
    edge_rows = edges.select("src", "dst", "relation").collect()
    data = {
        "nodes": sorted(name_of.values()),
        "edges": sorted(
            (
                {
                    "source": name_of[r.src],
                    "target": name_of[r.dst],
                    "relation": r.relation,
                }
                for r in edge_rows
                if r.src in name_of and r.dst in name_of
            ),
            key=lambda d: (d["source"], d["relation"], d["target"]),
        ),
        "relations": {r: r for r in vocab.RELATIONS},
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(data, f, ensure_ascii=False, indent=2)


def import_ontology_json(spark: SparkSession, path: str
                         ) -> tuple[DataFrame, DataFrame]:
    """Reload the S4 JSON into (nodes, edges) DataFrames
    (reference reload semantics: ontology.py:190-220)."""
    import json

    from .. import vocab

    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    cat = vocab.concept_category()
    # duplicate names collapse to one node, as in the reference's NetworkX
    # reload; every id is the name hash, so edges need no lookup join
    names = set(data["nodes"])
    nodes = spark.createDataFrame(
        [(n, cat.get(n, "Other"), "Concept") for n in sorted(names)],
        "name string, category string, kind string",
    ).withColumn("id", _name_id(F.col("name"))).select(
        "id", "name", "category", "kind",
        F.create_map(F.lit("mentions"), F.lit("0")).alias("attributes"),
    )
    edges = spark.createDataFrame(
        [
            (e["source"], e["target"], e["relation"])
            for e in data["edges"]
            if e["source"] in names and e["target"] in names
        ],
        "src_name string, dst_name string, relation string",
    ).select(
        _name_id(F.col("src_name")).alias("src"),
        _name_id(F.col("dst_name")).alias("dst"),
        "relation",
    )
    return nodes, edges


def embed_nodes(nodes: DataFrame) -> DataFrame:
    """U6 — deterministic hash embeddings for node names (L2-normalized,
    cosine == dot; incremental-fill pattern J5 is an anti-join against a
    previously materialized table, see stages/manifest.py)."""
    _session.ensure_shipped(nodes.sparkSession)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("vec", T.ArrayType(T.FloatType()), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel

        for pdf in batches:
            out = pdf[["id", "name"]].copy()
            out["vec"] = [kernel.hash_embed(n).tolist() for n in pdf["name"]]
            yield out

    return nodes.select("id", "name").mapInPandas(run, schema=schema)


def embed_nodes_incremental(nodes: DataFrame,
                            existing: DataFrame | None) -> DataFrame:
    """J5 — the reference's embedding-cache pattern
    (/root/reference/src/rag/graph_rag.py:142-148: compute only vectors not
    already cached, keep the rest) as a left-anti incremental fill: vectors
    for ids present in `existing` are reused verbatim; only the missing ids
    run the encoder."""
    if existing is None:
        return embed_nodes(nodes)
    missing = nodes.join(existing.select("id"), "id", "left_anti")
    return existing.select("id", "name", "vec").unionByName(
        embed_nodes(missing)
    )


# networkx.pagerank's default alpha
DAMPING = 0.85


def pagerank(edges: DataFrame, max_iter: int = 20,
             tol: float = 1.0e-6) -> DataFrame:
    """G8 — PageRank as an iterative DataFrame fixpoint (README-parity slot;
    the reference only name-drops community/centrality analysis). Matches
    networkx.pagerank semantics: damping DAMPING, uniform personalization,
    dangling mass redistributed uniformly, L1 convergence test.

    Scale shape: each round is one join on src + one groupBy on dst — both
    hash-partitioned on the vertex key so AQE reuses the exchange; lineage is
    cut per round with localCheckpoint. Ranks are (id, rank) — never an
    adjacency broadcast."""
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()
    if n == 0:
        return verts.withColumn("rank", F.lit(0.0))
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    out_deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg")
    )
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    for _ in range(max_iter):
        with_deg = ranks.join(out_deg, "id", "left")
        # dangling nodes (no out-edges) spread their rank uniformly
        dangling = (
            with_deg.filter(F.col("out_deg").isNull())
            .agg(F.sum("rank"))
            .collect()[0][0]
            or 0.0
        )
        contribs = (
            e.join(
                with_deg.filter(F.col("out_deg").isNotNull())
                .select(F.col("id").alias("src"),
                        (F.col("rank") / F.col("out_deg")).alias("w")),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("w").alias("contrib"))
        )
        new_ranks = (
            verts.join(contribs, "id", "left")
            .select(
                "id",
                (
                    F.lit((1.0 - DAMPING) / n)
                    + F.lit(DAMPING)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        delta = (
            new_ranks.join(ranks.withColumnRenamed("rank", "old"), "id")
            .agg(F.sum(F.abs(F.col("rank") - F.col("old"))))
            .collect()[0][0]
        )
        ranks = new_ranks
        if delta is not None and delta < tol:
            break
    return ranks


def export_viz(nodes: DataFrame, edges: DataFrame, path: str,
               max_nodes: int = 500) -> str:
    """S12 — visualization sink. The reference renders the ontology with
    matplotlib+networkx (/root/reference/src/knowledge_graph/ontology.py,
    visualize slot); this container has neither, so the canonical output is
    a Graphviz DOT file (dependency-free, renders anywhere), colored by
    E/S/G category, truncated to `max_nodes` highest-degree nodes (a viz is
    a driver-side artifact — never the full corpus graph). No image is
    rendered; render the DOT with Graphviz (`dot -Tpng`)."""
    colors = {"Environment": "#4caf50", "Social": "#2196f3",
              "Governance": "#ff9800", "Other": "#9e9e9e"}
    deg = degrees(edges)
    top = (
        nodes.join(deg, "id", "left")
        .na.fill({"in_deg": 0, "out_deg": 0})
        .orderBy(F.desc(F.col("in_deg") + F.col("out_deg")), F.asc("name"))
        .limit(max_nodes)
        .select("id", "name", "category")
        .collect()
    )
    # filter DataFrame-side BEFORE collecting: only the edges among the
    # ≤max_nodes kept ids ever reach the driver, never the full corpus
    # edge table
    keep_ids = nodes.sparkSession.createDataFrame(
        [(r.id,) for r in top], "id long"
    )
    edge_rows = induced_edges(
        edges.select("src", "dst", "relation"), keep_ids
    ).collect()
    lines = ["digraph esg {", "  rankdir=LR;",
             '  node [style=filled, fontname="sans-serif"];']
    for r in sorted(top, key=lambda r: r.name):
        c = colors.get(r.category, colors["Other"])
        name = r.name.replace('"', r"\"")
        lines.append(f'  n{r.id & 0xFFFFFFFFFFFFFFFF} '
                     f'[label="{name}", fillcolor="{c}"];')
    for r in sorted(edge_rows, key=lambda r: (r.src, r.relation, r.dst)):
        lines.append(
            f"  n{r.src & 0xFFFFFFFFFFFFFFFF} -> "
            f"n{r.dst & 0xFFFFFFFFFFFFFFFF} "
            f'[label="{r.relation}"];'
        )
    lines.append("}")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
    return path
