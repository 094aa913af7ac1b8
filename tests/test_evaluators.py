"""Round-2 evaluator operators vs hand-computed reference semantics
(/root/reference/src/evaluation/metrics.py:46-65, 185-265)."""

import re

from esgkg.stages import metrics


def _ref_tokenize(text):
    # the reference's _tokenize (metrics.py:267-271)
    return [w for w in re.sub(r"[、。！？「」『』（）［］\s]", " ", text).split() if w]


def test_coverage_metrics_matches_reference_formulas(spark):
    concepts = spark.createDataFrame(
        [("気候変動",), ("再生可能エネルギー",), ("労働安全",), ("配当",)],
        "name string",
    )
    domain = ["気候変動", "労働安全", "人権", "生物多様性"]
    row = metrics.coverage_metrics(concepts, domain).collect()[0]
    covered = 2  # 気候変動, 労働安全
    assert row.n_domain == 4 and row.n_ontology == 4 and row.n_covered == covered
    assert row.concept_coverage == round(covered / 4, 6)
    assert row.concept_precision == round(covered / 4, 6)
    assert row.concept_f1 == round(2 * covered / (4 + 4), 6)


def test_answer_quality_matches_reference_formulas(spark):
    gen = "気候変動 対策 と 再生可能エネルギー の 導入 を 進める、対策 を 強化。"
    ref = "気候変動 への 対策 は 再生可能エネルギー 導入 が 中心 です。"
    pairs = spark.createDataFrame([(1, gen, ref)],
                                  "id long, generated string, reference string")
    concepts = ("気候変動", "カーボンニュートラル")
    row = metrics.answer_quality(pairs, context_concepts=concepts).collect()[0]

    gw, rw = _ref_tokenize(gen), _ref_tokenize(ref)
    usage = sum(1 for c in concepts if c in gen) / len(concepts)
    overlap = len(set(gw) & set(rw)) / len(set(rw))
    assert row.concept_usage == round(usage, 6)
    assert row.word_overlap == round(overlap, 6)
    assert row.answer_length == len(gen)
    assert row.vocabulary_size == len(set(gw))
    # keyword_match with deterministic (freq desc, token asc) tie-break
    def kw(words):
        from collections import Counter

        freq = Counter(words)
        thr = len(freq) // 3
        ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
        return {w for w, _ in ranked[:thr]}

    gk, rk = kw(gw), kw(rw)
    want = len(gk & rk) / len(rk) if rk else 0.0
    assert row.keyword_match == round(want, 6)


def test_answer_quality_empty_reference_is_zero_not_crash(spark):
    pairs = spark.createDataFrame(
        [(1, "some answer text", "")],
        "id long, generated string, reference string",
    )
    row = metrics.answer_quality(pairs).collect()[0]
    assert row.word_overlap == 0.0 and row.keyword_match == 0.0


def test_subgraph_relevance_matches_reference_formulas(spark):
    sub_nodes = spark.createDataFrame(
        [(1, "気候変動"), (2, "温室効果ガス"), (3, "再生可能エネルギー")],
        "id long, name string",
    )
    sub_edges = spark.createDataFrame(
        [(1, 2, "related_to"), (2, 3, "related_to")],
        "src long, dst long, relation string",
    )
    query = "気候変動 の 対策"
    ref_concepts = ["気候変動", "人権"]
    row = metrics.subgraph_relevance(
        query, sub_nodes, sub_edges, ref_concepts
    ).collect()[0]
    assert row.concept_coverage == round(1 / 2, 6)
    # query words: 気候変動, の, 対策 — node-name words: the 3 names
    assert row.query_relevance == round(1 / 3, 6)
    assert row.graph_density == round(2 * 2 / (3 * 2), 6)


def test_pagerank_matches_power_iteration(spark):
    # local reference: standard power iteration with uniform dangling-mass
    # redistribution — the same semantics networkx.pagerank implements
    # (scipy, which networkx delegates to, is not in this container)
    from esgkg.stages import graph

    raw = [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 3)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {r.id: r.rank for r in graph.pagerank(edges, max_iter=60,
                                                tol=1e-10).collect()}
    nodes = sorted({x for e in raw for x in e})
    out = {}
    for a, b in raw:
        out.setdefault(a, set()).add(b)
    n, d = len(nodes), 0.85
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(200):
        dangling = sum(rank[v] for v in nodes if v not in out)
        new = {}
        for v in nodes:
            contrib = sum(
                rank[u] / len(out[u]) for u in nodes if v in out.get(u, ())
            )
            new[v] = (1 - d) / n + d * (contrib + dangling / n)
        if sum(abs(new[v] - rank[v]) for v in nodes) < 1e-12:
            rank = new
            break
        rank = new
    assert set(got) == set(rank)
    for k in rank:
        assert abs(got[k] - rank[k]) < 1e-6, (k, got[k], rank[k])


def test_embed_nodes_incremental_reuses_cached_vectors(spark):
    from esgkg.stages import graph

    nodes = spark.createDataFrame(
        [(1, "気候変動", "E", "Concept"), (2, "人権", "S", "Concept"),
         (3, "取締役会", "G", "Concept")],
        "id long, name string, category string, kind string",
    )
    full = {r.id: r.vec for r in graph.embed_nodes(nodes).collect()}
    # cache holds a SENTINEL vector for id=1: it must be reused verbatim
    sentinel = [1.0] + [0.0] * (len(full[1]) - 1)
    existing = spark.createDataFrame(
        [(1, "気候変動", sentinel)],
        "id long, name string, vec array<float>",
    )
    got = {r.id: r.vec for r in
           graph.embed_nodes_incremental(nodes, existing).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1] == sentinel          # cached, not recomputed
    assert got[2] == full[2] and got[3] == full[3]  # filled by the encoder


def test_export_viz_writes_valid_dot(spark, tmp_path):
    from esgkg.stages import graph

    nodes, edges = graph.seed_graph(spark)
    from pyspark.sql import functions as F

    nodes = nodes.select(
        F.xxhash64("name", F.lit(42)).alias("id"), "name", "category", "kind"
    )
    ids = nodes.select("name", "id")
    e = (
        edges.join(ids.withColumnRenamed("name", "src_name")
                   .withColumnRenamed("id", "src"), "src_name")
        .join(ids.withColumnRenamed("name", "dst_name")
              .withColumnRenamed("id", "dst"), "dst_name")
        .select("src", "dst", "relation")
    )
    p = str(tmp_path / "ontology.dot")
    graph.export_viz(nodes, e, p, max_nodes=50)
    dot = open(p, encoding="utf-8").read()
    assert dot.startswith("digraph esg {") and dot.rstrip().endswith("}")
    assert dot.count("->") > 10          # edges present
    assert "fillcolor" in dot            # category coloring
    assert "気候変動" in dot              # real node labels survive


def test_evaluation_harness_hand_computed(spark):
    """run_evaluation over a 3-node chain with hand-computed expectations:
    the query node always enters the top set (self-similarity 1.0 ≥
    threshold), BFS(depth 2) reaches the whole chain, so the found subgraph
    is exactly {A,B,C} with both edges — accuracy and coverages follow by
    hand (reference flow scripts/05_evaluation.py:21-118)."""
    from esgkg.stages import evaluate

    nodes = spark.createDataFrame(
        [
            (1, "気候変動対策", "Environment", "Concept"),
            (2, "温室効果ガス削減", "Environment", "Concept"),
            (3, "再生可能エネルギー", "Environment", "Concept"),
        ],
        "id long, name string, category string, kind string",
    )
    edges = spark.createDataFrame(
        [
            (1, 2, "is_a", 0.9),
            (2, 3, "is_a", 0.9),
        ],
        "src long, dst long, relation string, confidence double",
    )
    cases = {
        "relation_inference_cases": [
            {
                "query": "気候変動対策",
                "gold_relations": [
                    {"source": "気候変動対策", "type": "is_a",
                     "target": "温室効果ガス削減"},
                ],
            },
            {
                "query": "気候変動対策",
                "gold_relations": [
                    {"source": "気候変動対策", "type": "partner",
                     "target": "再生可能エネルギー"},
                ],
            },
        ],
        "rag_cases": [
            {
                "query": "気候変動対策",
                "context_concepts": [
                    "気候変動対策", "温室効果ガス削減", "再生可能エネルギー"
                ],
                "context_relations": [
                    {"source": "気候変動対策", "type": "is_a",
                     "target": "温室効果ガス削減"},
                ],
                "reference_answer": "気候変動対策は温室効果ガス削減を含む",
            },
            {
                "query": "気候変動対策",
                "context_concepts": ["気候変動対策", "存在しない概念"],
                "context_relations": [
                    {"source": "温室効果ガス削減", "type": "is_a",
                     "target": "再生可能エネルギー"},
                    {"source": "気候変動対策", "type": "is_a",
                     "target": "再生可能エネルギー"},
                ],
            },
        ],
    }
    res = evaluate.run_evaluation(nodes, edges, cases)
    assert res["relation_inference"]["accuracy"] == 0.5
    assert res["rag_queries"]["node_coverage"] == [1.0, 0.5]
    assert res["rag_queries"]["relation_coverage"] == [1.0, 0.5]
    assert res["rag_queries"]["avg_node_coverage"] == 0.75
    # the deterministic stand-in response is the F7 context, never empty
    assert all(d["response"] for d in res["rag_queries"]["details"])


def test_synth_test_cases_shape_and_truth(spark):
    """Synthesized cases must point at TRUE edges of the provided KG (so a
    perfect retriever scores 1.0) and follow the reference JSON shape."""
    from esgkg.stages import evaluate

    nodes = spark.createDataFrame(
        [(1, "A概念", "Environment", "Concept"),
         (2, "B概念", "Social", "Concept"),
         (3, "C概念", "Governance", "Concept")],
        "id long, name string, category string, kind string",
    )
    edges = spark.createDataFrame(
        [(1, 2, "is_a", 1.0), (1, 3, "related_to", 1.0)],
        "src long, dst long, relation string, confidence double",
    )
    cases = evaluate.synth_test_cases(nodes, edges, n_cases=1)
    assert len(cases["relation_inference_cases"]) == 1
    case = cases["relation_inference_cases"][0]
    assert case["query"] == "A概念"
    true_edges = {("A概念", "is_a", "B概念"), ("A概念", "related_to", "C概念")}
    for rel in case["gold_relations"]:
        assert (rel["source"], rel["type"], rel["target"]) in true_edges
    rag_case = cases["rag_cases"][0]
    assert "A概念" in rag_case["context_concepts"]
    assert rag_case["reference_answer"]
