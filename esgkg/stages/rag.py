"""GraphRAG-shaped read path (SURVEY.md §3.2, minus LLM generation).

Reference trace (/root/reference/src/rag/graph_rag.py:96-246
``search_relevant_subgraph``): embed query (U6) → score every node by
weighted cosine (J8/J6, category weights graph_rag.py:120-127) → threshold +
top-k (P5/T1, :162-169) → path expansion restricted to the selected set
(G1/J4, :179-187) → dedup (A3) → statistics (A1/E4, :232-246) → context
formatting (F7, :265-304).

Spark redesign: the node-embedding table is scanned once with a vectorized
dot product against the broadcast query vector; expansion is the bounded BFS
of stages/graph.py; the final subgraph is collected to the driver (it is
top-k-small by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import kernel
from ..ops import simsearch
from . import graph as graph_stage

# reference defaults: graph_rag.py:96-127 (weights, threshold) and
# graph_rag.py:265-304 (context formatting)
CATEGORY_WEIGHTS = {
    "Environment": 1.2,
    "Social": 1.1,
    "Governance": 1.1,
}
SIMILARITY_THRESHOLD = 0.3
CONTEXT_MAX_NODES = 5
CONTEXT_MAX_RELS = 3


def score_nodes(nodes: DataFrame, embeddings: DataFrame,
                query: str) -> DataFrame:
    """(id, name, category, score): CATEGORY_WEIGHTS-weighted cosine of every
    node embedding vs the query embedding (J8 + J6). Embeddings are
    L2-normalized so cosine is a dot product; the query vector is a
    broadcast literal."""
    dot = simsearch.dot(
        F.col("vec").cast("array<double>"),
        simsearch.lit_vector(kernel.hash_embed(query)),
    )
    wexpr = F.lit(1.0)
    for cat, w in CATEGORY_WEIGHTS.items():
        wexpr = F.when(F.col("category") == cat, F.lit(float(w))).otherwise(
            wexpr
        )
    return (
        embeddings.join(
            nodes.select("id", "name", "category"), ["id", "name"]
        )
        .select("id", "name", "category", (dot * wexpr).alias("score"))
    )


def search_subgraph(nodes: DataFrame, edges: DataFrame, query: str,
                    max_nodes: int = 10, max_depth: int = 2) -> dict:
    """The reference's subgraph search contract (graph_rag.py:96-246):
    returns {"nodes": [...], "relationships": [...], "statistics": {...}}."""
    emb = graph_stage.embed_nodes(nodes)
    scored = score_nodes(nodes, emb, query)
    top = (
        scored.filter(F.col("score") >= SIMILARITY_THRESHOLD)
        .orderBy(F.desc("score"), F.asc("name"))
        .limit(max_nodes)
        .localCheckpoint(eager=True)
    )
    # G1 bounded expansion from the top set, J4-restricted per round
    reach = graph_stage.bfs(edges, top.select("id"), max_depth)
    keep = reach.select(F.col("node").alias("id")).distinct()
    sub_nodes = nodes.join(keep, "id", "left_semi")
    sub_edges = graph_stage.induced_edges(edges, sub_nodes).dropDuplicates(
        ["src", "dst", "relation"]
    )
    n_rows = sub_nodes.select("id", "name", "category", "kind").collect()
    name_of = {r.id: r.name for r in n_rows}
    e_rows = sub_edges.select("src", "dst", "relation", "confidence").collect()
    n = len(n_rows)
    e = len(e_rows)
    cats: dict[str, int] = {}
    for r in n_rows:
        cats[r.category] = cats.get(r.category, 0) + 1
    return {
        "nodes": [
            {"name": r.name, "category": r.category, "kind": r.kind}
            for r in sorted(n_rows, key=lambda x: x.name)
        ],
        "relationships": [
            {
                "source": name_of[r.src],
                "type": r.relation,
                "target": name_of[r.dst],
                "confidence": r.confidence,
            }
            for r in sorted(e_rows, key=lambda x: (name_of[x.src], x.relation))
        ],
        "statistics": {
            "num_nodes": n,
            "num_relationships": e,
            "density": graph_stage.density(n, e),  # E4, kept as-is
            "category_counts": cats,
        },
    }


def format_context(subgraph: dict) -> str:
    """F7 — category→concept→relations context text
    (graph_rag.py:265-304), driver-side over the collected small result:
    at most CONTEXT_MAX_NODES concepts per category and CONTEXT_MAX_RELS
    relations per concept."""
    by_cat: dict[str, list[dict]] = {}
    for node in subgraph["nodes"]:
        by_cat.setdefault(node["category"], []).append(node)
    lines: list[str] = []
    for cat in sorted(by_cat):
        lines.append(f"[{cat}]")
        for node in by_cat[cat][:CONTEXT_MAX_NODES]:
            lines.append(f"- {node['name']}")
            rels = [
                r
                for r in subgraph["relationships"]
                if r["source"] == node["name"]
            ][:CONTEXT_MAX_RELS]
            for r in rels:
                lines.append(f"    {r['source']} -{r['type']}-> {r['target']}")
    return "\n".join(lines)
