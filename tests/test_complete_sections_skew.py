"""Tests: U3 predict_links contract, BFS path accumulation, U4 relation
inference."""

from esgkg.stages import complete, graph


def test_predict_links_reference_contract(spark):
    # shape/range assertions mirroring the reference's only pytest file
    # (/root/reference/tests/test_knowledge_completion.py:42-49)
    edges = spark.createDataFrame(
        [(1, 2, "related_to", 1.0, "u"), (1, 3, "related_to", 1.0, "u"),
         (2, 3, "related_to", 1.0, "u"), (3, 4, "related_to", 1.0, "u"),
         (4, 5, "related_to", 1.0, "u")],
        "src long, dst long, relation string, confidence double, url string",
    )
    top_k = 3
    links = complete.predict_links(edges, source_id=1, top_k=top_k)
    assert len(links) == top_k
    for node, prob in links:
        assert isinstance(node, int)
        assert isinstance(prob, float)
        assert 0.0 <= prob <= 1.0
    # descending probability
    probs = [p for _, p in links]
    assert probs == sorted(probs, reverse=True)


def test_bfs_accumulates_paths(spark):
    edges = spark.createDataFrame(
        [(1, 2, "is_a", 1.0, "u"), (2, 3, "part_of", 1.0, "u"),
         (3, 4, "affects", 1.0, "u")],
        "src long, dst long, relation string, confidence double, url string",
    )
    start = spark.createDataFrame([(1,)], "id long")
    out = {r.node: (r.depth, list(r.path_relations))
           for r in graph.bfs(edges, start, max_depth=3).collect()}
    assert out[1] == (0, [])
    assert out[2] == (1, ["is_a"])
    assert out[3] == (2, ["is_a", "part_of"])
    assert out[4] == (3, ["is_a", "part_of", "affects"])


def test_bfs_relation_filter(spark):
    # P7 — ALL(rel.type = $t) along the path (neo4j_manager.py:159-160)
    edges = spark.createDataFrame(
        [(1, 2, "is_a", 1.0, "u"), (2, 3, "part_of", 1.0, "u")],
        "src long, dst long, relation string, confidence double, url string",
    )
    start = spark.createDataFrame([(1,)], "id long")
    nodes = {r.node for r in graph.bfs(edges, start, 3, relation="is_a").collect()}
    assert nodes == {1, 2}


def test_infer_relations_reference_contract(spark):
    """U4 contract mirror (/root/reference/tests/test_knowledge_completion.py
    :9-21): non-empty list of {"target", "relation", "description"} dicts —
    recovered behind the deterministic template engine (the reference repo
    never shipped the implementation module)."""
    from esgkg import vocab
    from esgkg.stages import complete

    relations = complete.infer_relations("気候変動")
    assert len(relations) > 0
    for relation in relations:
        assert "target" in relation
        assert "relation" in relation
        assert "description" in relation
        assert relation["relation"] in vocab.RELATIONS
    # deterministic: identical output on repeat
    assert relations == complete.infer_relations("気候変動")
    # hierarchy neighbors come first with their true relation type
    parents = {p: r for c, p, r in vocab.HIERARCHY if c == "気候変動"}
    assert relations[0]["target"] in parents
    assert relations[0]["relation"] == parents[relations[0]["target"]]
    # context is echoed into the description like the reference prompt
    with_ctx = complete.infer_relations("気候変動", context="重要なESG課題")
    assert any("重要なESG課題" in r["description"] for r in with_ctx)


def test_infer_relations_table_matches_scalar(spark):
    from esgkg.stages import complete

    sources = spark.createDataFrame(
        [("気候変動",), ("コーポレートガバナンス",)], "name string"
    )
    got = {
        (r.source, r.rank): (r.target, r.relation)
        for r in complete.infer_relations_table(spark, sources).collect()
    }
    for s in ("気候変動", "コーポレートガバナンス"):
        expected = complete.infer_relations(s)
        assert len(expected) >= 1
        for rank, rel in enumerate(expected, start=1):
            assert got[(s, rank)] == (rel["target"], rel["relation"])
