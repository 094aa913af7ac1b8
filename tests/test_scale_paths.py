"""Round-2 scale-path tests: size-gated broadcast fallbacks must equal the
broadcast plans, skew caps must bound candidate blowup, the manifest must not
resume stale outputs, and node/edge resolution must be deterministic."""

import shutil
import tempfile

from pyspark.sql import functions as F

from esgkg import pipeline, session
from esgkg.stages import canon, complete, corpus, graph, nlp
from esgkg.ops import dedup


def _triples(spark, n=120):
    text = corpus.extract_text(corpus.synth_pages(spark, n))
    return nlp.link_triples(nlp.extract_triples(text)).cache()


def _executed_plan(df) -> str:
    """The executed physical plan of `df`, after AQE's run-time re-plan:
    Spark's own size-based broadcast stays on, so a shuffle branch of the
    gate must survive it."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_rewrite_triples_shuffle_equals_broadcast(spark, monkeypatch):
    linked = _triples(spark)
    surfaces = linked.select(F.col("subj").alias("surface")).union(
        linked.select(F.col("obj").alias("surface"))
    )
    cmap = canon.canonical_map(surfaces).cache()
    a = canon.rewrite_triples(linked, cmap)  # broadcast (default gate)
    assert "BroadcastHashJoin" in _executed_plan(a)
    monkeypatch.setattr(session, "BROADCAST_ROWS", 0)
    b = canon.rewrite_triples(linked, cmap)  # shuffle
    assert "BroadcastHashJoin" not in _executed_plan(b)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and rows_a


def test_adamic_adar_shuffle_equals_broadcast(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 5), (5, 6)],
        "src long, dst long",
    )
    buys = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11), (3, 11), (3, 12), (2, 12),
         (4, 12), (4, 10)],
        "cust long, part long",
    )
    a = complete.adamic_adar(edges, top_k=5)
    bip_a = complete.bipartite_adamic_adar(buys, "cust", "part")
    assert "BroadcastHashJoin" in _executed_plan(a)
    assert "BroadcastHashJoin" in _executed_plan(bip_a)
    monkeypatch.setattr(session, "BROADCAST_ROWS", 0)
    b = complete.adamic_adar(edges, top_k=5)
    bip_b = complete.bipartite_adamic_adar(buys, "cust", "part")
    assert "BroadcastHashJoin" not in _executed_plan(b)
    assert "BroadcastHashJoin" not in _executed_plan(bip_b)
    key = lambda r: (r.src, r.dst)
    got_a = {key(r): (r.common_neighbors, round(r.aa_score, 9), r.rank)
             for r in a.collect()}
    got_b = {key(r): (r.common_neighbors, round(r.aa_score, 9), r.rank)
             for r in b.collect()}
    assert got_a == got_b and got_a
    rows_a = sorted(map(tuple, bip_a.collect()))
    assert rows_a == sorted(map(tuple, bip_b.collect())) and rows_a


def test_materialize_shuffle_equals_broadcast(spark, monkeypatch):
    linked = _triples(spark, 80)
    n1, e1 = graph.materialize(linked, spark)
    assert "BroadcastHashJoin" in _executed_plan(e1)
    monkeypatch.setattr(session, "BROADCAST_ROWS", 0)
    n2, e2 = graph.materialize(linked, spark)
    assert "BroadcastHashJoin" not in _executed_plan(e2)
    assert sorted(map(tuple, n1.collect())) == sorted(map(tuple, n2.collect()))
    assert sorted(map(tuple, e1.collect())) == sorted(map(tuple, e2.collect()))


def test_materialize_deterministic_and_attributed(spark):
    linked = _triples(spark, 80)
    n1, e1 = graph.materialize(linked, spark)
    n2, e2 = graph.materialize(linked, spark)
    # full-row determinism (kind/category/attributes, not just id+name)
    assert sorted(map(tuple, n1.collect())) == sorted(map(tuple, n2.collect()))
    assert sorted(map(tuple, e1.collect())) == sorted(map(tuple, e2.collect()))
    by_name = {r.name: r for r in n1.collect()}
    # every node carries the attributes map; corpus-derived nodes count
    # mentions, seed-only nodes report 0
    assert all("mentions" in r.attributes for r in by_name.values())
    mentioned = [r for r in by_name.values() if int(r.attributes["mentions"]) > 0]
    assert mentioned
    assert int(by_name["ROOT"].attributes["mentions"]) == 0


def test_node_attribute_map_merge_upsert(spark):
    """S6 second half: the MERGE upsert carries the attributes map — an
    updated node's attribute payload replaces the old one (Neo4j
    `SET c += $attributes`, neo4j_manager.py:66-67)."""
    from esgkg.io import ParquetCatalog

    base = tempfile.mkdtemp(prefix="esgkg_attrmerge_")
    try:
        cat = ParquetCatalog(base)
        mk = lambda rows: spark.createDataFrame(
            rows, "id long, name string, attributes map<string,string>"
        )
        cat.write(mk([(1, "a", {"mentions": "1"}), (2, "b", {"mentions": "2"})]),
                  "nodes")
        cat.merge(
            spark,
            mk([(2, "b", {"mentions": "7", "lang": "ja"}),
                (3, "c", {"mentions": "1"})]),
            "nodes",
            keys=["id"],
        )
        got = {r.id: dict(r.attributes) for r in cat.read(spark, "nodes").collect()}
        assert got == {
            1: {"mentions": "1"},
            2: {"mentions": "7", "lang": "ja"},
            3: {"mentions": "1"},
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_manifest_rejects_stale_resume(spark):
    """Param-change-then-revert on one base_dir: run n=60, then n=90
    (overwrites stage tables), then n=60 again — the third run must NOT
    resume the n=90 output under the n=60 fingerprint."""
    base = tempfile.mkdtemp(prefix="esgkg_stale_")
    try:
        out60 = pipeline.build_kg(spark, 60, base_dir=base)
        want = {(r.subj, r.pred, r.obj, r.url) for r in out60["triples"].collect()}
        pipeline.build_kg(spark, 90, base_dir=base)["triples"].count()
        out_again = pipeline.build_kg(spark, 60, base_dir=base)
        got = {(r.subj, r.pred, r.obj, r.url)
               for r in out_again["triples"].collect()}
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_manifest_top_k_change_recomputes_links(spark):
    """top_k is part of the predicted_links fingerprint: rebuilding a
    top_k=10 catalog with top_k=2 recomputes the links (at most 2 per
    source) and resumes the other 7 stages."""
    base = tempfile.mkdtemp(prefix="esgkg_topk_")

    def most_per_source(df):
        return df.groupBy("src").count().agg(F.max("count")).first()[0]

    try:
        out10 = pipeline.build_kg(spark, 60, base_dir=base, top_k=10)
        assert most_per_source(out10["predicted_links"]) > 2
        out2 = pipeline.build_kg(spark, 60, base_dir=base, top_k=2)
        assert 0 < most_per_source(out2["predicted_links"]) <= 2
        m = spark.read.parquet(f"{base}/_manifest")
        commits = {r.stage: r["count"]
                   for r in m.groupBy("stage").count().collect()}
        assert commits.pop("predicted_links") == 2
        assert commits == dict.fromkeys(
            ("text", "raw_triples", "linked_triples", "canon_map", "triples",
             "nodes", "edges"), 1)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_exact_dedup_hash_keys_match_text_grouping(spark):
    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "z"), (5, "y"), (6, "x")],
        "doc_id long, text string",
    )
    got = {(r.keep_id, r.n_dupes) for r in dedup.exact_dedup(docs).collect()}
    assert got == {(1, 3), (3, 2), (4, 1)}


def test_predict_links_neighborhood_matches_bruteforce(spark):
    """The 2-hop-restricted per-source scorer must equal a brute-force
    Adamic-Adar computed in python over the same undirected graph."""
    import math

    raw = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (1, 6)]
    edges = spark.createDataFrame(
        [(a, b, "related_to", 1.0, "u") for a, b in raw],
        "src long, dst long, relation string, confidence double, url string",
    )
    adj: dict[int, set[int]] = {}
    for a, b in raw:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    src = 1
    scores = {}
    for c in adj:
        if c == src or c in adj[src]:
            continue
        zs = adj[src] & adj[c]
        if zs:
            scores[c] = sum(1.0 / math.log(len(adj[z])) for z in zs)
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    got = complete.predict_links(edges, source_id=src, top_k=len(want))
    assert [(n, round(1.0 - math.exp(-s), 9)) for n, s in want] == [
        (n, round(p, 9)) for n, p in got
    ]


def test_scaled_vocab_pool_determinism_and_extractability():
    """company_pool(n) is deterministic, collision-free, and every generated
    surface stays inside the extractor's org pattern."""
    import re

    from esgkg import kernel, synth

    pool = synth.company_pool(3000)
    assert pool == synth.company_pool(3000)
    assert pool[:88] == synth.company_pool(88)  # base pool is a stable prefix
    all_surfaces = [s for grp in pool for s in grp]
    assert len(all_surfaces) == len(set(all_surfaces))
    pat = re.compile(kernel._ORG_PAT)
    for grp in pool[::97]:  # sample across the range
        for s in grp:
            m = pat.fullmatch(s)
            assert m, s


def test_scaled_vocab_extraction_pr(spark):
    """Triple extraction stays P/R=1.0 vs the single-node oracle on pages
    drawn from the EXTENDED org pool (page ids beyond the base 88 groups)."""
    from esgkg import kernel, oracle, synth
    from esgkg.stages import corpus, nlp

    n_groups = 2000
    ids = list(range(88, 488))  # extended-pool orgs only
    gold = set()
    for i in ids:
        p = synth.make_page(i, n_groups=n_groups)
        for t in kernel.extract_triples(kernel.page_text(p["html"]), p["url"]):
            gold.add(t)
    rows = [synth.make_page(i, n_groups=n_groups) for i in ids]
    pages = spark.createDataFrame(rows, corpus.PAGES_SCHEMA)
    got = {
        (r.subj, r.pred, r.obj, r.url)
        for r in nlp.extract_triples(corpus.extract_text(pages)).collect()
    }
    p, r, f1 = oracle.precision_recall(got, gold)
    assert p == 1.0 and r == 1.0


def test_canonical_map_distributed_rung_purity_at_scale(spark):
    """At >4096 distinct surfaces canonical_map must take the distributed
    banding/verify rung, and the result must be pure (never merges two
    different gold groups) and complete (variants of one group merge)."""
    from esgkg import synth
    from esgkg.stages import canon

    gold = synth.gold_canon_groups(2000)  # ~5.9k surfaces
    assert len(gold) > 4096
    surfaces = spark.createDataFrame(
        [(s,) for s, _ in gold], "surface string"
    )
    cm = {
        r.surface: r.canonical
        for r in canon.canonical_map(surfaces).collect()
    }
    assert canon.LAST_STRATEGY == "dist_pairs"
    gid_of = dict(gold)
    # purity: a canonical form never spans two gold groups
    by_canon: dict[str, set[int]] = {}
    for s, c in cm.items():
        by_canon.setdefault(c, set()).add(gid_of[s])
    assert all(len(g) == 1 for g in by_canon.values())
    # completeness: every JA group's variants collapse to one canonical form
    from collections import defaultdict

    canons_per_gid = defaultdict(set)
    for s, gid in gold:
        canons_per_gid[gid].add(cm[s])
    n_multi = sum(1 for grp in synth.company_pool(2000) if len(grp) > 1)
    merged = sum(
        1
        for gid, cs in canons_per_gid.items()
        if len(synth.company_pool(2000)[gid]) > 1 and len(cs) == 1
    )
    # recall bound is the LSH banding probability: boundary variants sit at
    # 3-gram jaccard s≈0.5, so P(candidate) = 1-(1-s²)^16 ≈ 0.99 per pair
    # and ≈0.98 for a fully-merged 3-surface group — not a verification miss
    assert merged / n_multi >= 0.97


def test_minhash_oversized_bucket_exact_recovery(spark, monkeypatch):
    """Identical boilerplate that lands in dropped (oversized) LSH buckets
    must still dedup via the exact content-hash pass — O(n) recovery rows
    pairing each doc to its hash-group keeper. Empty and null texts pair
    with nothing, though the exact pass spans the whole pool."""
    boiler = [(i, "the same boilerplate page body " * 20) for i in range(200)]
    near = [
        (900, "a distinctive document about adaptive query execution here"),
        (901, "a distinctive document about adaptive query execution there"),
    ]
    blank = [(950, ""), (951, ""), (952, None), (953, None)]
    docs = spark.createDataFrame(
        boiler + near + blank, "doc_id long, text string"
    )
    monkeypatch.setattr(dedup, "MAX_BUCKET", 32)
    pairs = dedup.minhash_near_dup_pairs(docs, jaccard_threshold=0.6).collect()
    got = {(r.a, r.b) for r in pairs}
    # every boilerplate doc pairs with the keeper (id 0): exactly 199 rows
    assert {(0, i) for i in range(1, 200)} <= got
    assert (900, 901) in got
    assert not any(i in p for p in got for i in (950, 951, 952, 953))
    # recovery is linear, not quadratic: no (1, 2)-style non-keeper pairs
    # beyond what small buckets legitimately emit
    assert len(got) < 500


def test_materialize_closed_world_equals_join_path(spark):
    """assume_closed (direct hash ids, no endpoint joins) must produce
    byte-identical nodes and edges on pipeline data, where every endpoint
    is a node by construction."""
    linked = _triples(spark, 100)
    n1, e1 = graph.materialize(linked, spark)
    n2, e2 = graph.materialize(linked, spark, assume_closed=True)
    assert sorted(map(tuple, n1.collect())) == sorted(map(tuple, n2.collect()))
    assert sorted(map(tuple, e1.collect())) == sorted(map(tuple, e2.collect()))


def test_rewrite_preserves_row_count(spark):
    """The bench harness counts triples from the linked-parquet footer
    instead of re-running the canonical rewrite (bench_support/
    run_pipeline.py): valid only because the rewrite is row-count-preserving
    — a left join on the canonical map's UNIQUE surface key can never fan
    out or drop. Assert both the uniqueness premise and the count equality."""
    linked = _triples(spark)
    surfaces = linked.select(F.col("subj").alias("surface")).union(
        linked.select(F.col("obj").alias("surface"))
    )
    cmap = canon.canonical_map(surfaces).cache()
    assert cmap.count() == cmap.select("surface").distinct().count()
    rewritten = canon.rewrite_triples(linked, cmap)
    assert rewritten.count() == linked.count()


def test_materialize_split_halves_equal_combined(spark):
    """materialize_nodes/materialize_edges (the concurrent bench path) must
    equal the single materialize call on the same triples."""
    linked = _triples(spark, 80)
    n1, e1 = graph.materialize(linked, spark, assume_closed=True)
    n2 = graph.materialize_nodes(linked, spark)
    e2 = graph.materialize_edges(linked, spark, assume_closed=True)
    assert sorted(map(tuple, n1.collect())) == sorted(map(tuple, n2.collect()))
    assert sorted(map(tuple, e1.collect())) == sorted(map(tuple, e2.collect()))


def test_knn_join_partition_bounded_emission(spark):
    """scored_topk_per_partition (the map side of pairwise_topk_join) must
    emit at most Q×k rows per non-empty partition — never the round-2 Q×N
    stream — and the joined result must equal per-query brute force."""
    from esgkg.ops import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n_part = 4
    pool = emb.repartition(n_part).localCheckpoint(eager=True)
    queries = emb.filter(F.col("vec_id") < 7)
    q_n, k = queries.count(), 3
    scored = simsearch.scored_topk_per_partition(pool, queries, k=k)
    assert scored.count() <= q_n * k * n_part
    out = simsearch.pairwise_topk_join(pool, queries, k=k)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.id))
    for q in queries.select("vec_id", "embedding").collect():
        brute = [
            r.id
            for r in simsearch.cosine_topk(pool, list(q.embedding), k=k).collect()
        ]
        assert [i for _, i in sorted(got[q.vec_id])] == brute


def test_ann_topk_reuses_precomputed_signatures(spark):
    """ann_topk with a precomputed signature table must return identical
    rows AND never re-run the corpus-hashing UDF (the signature table is the
    index; round 2 recomputed it per query)."""
    from esgkg.ops import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    pool = emb.filter(F.col("vec_id") != 0)
    sig = simsearch.hyperplane_signatures(pool).localCheckpoint(eager=True)
    a = [(r.id, round(r.score, 9)) for r in simsearch.ann_topk(pool, qvec, k=10).collect()]
    df_b = simsearch.ann_topk(pool, qvec, k=10, signatures=sig)
    b = [(r.id, round(r.score, 9)) for r in df_b.collect()]
    assert a == b
    plan = df_b._jdf.queryExecution().optimizedPlan().toString()
    assert "pandas" not in plan.lower()  # no python UDF left in the probe


def test_canon_oversized_bucket_whitespace_recovery(spark, monkeypatch):
    """Whitespace variants of one long surface land in oversized (dropped)
    LSH buckets at a tiny MAX_BUCKET, yet must still merge via the
    normalized-exact recovery pass — identically on the driver rung and the
    distributed rung."""
    base = "グリーンサプライチェーン環境経営推進機構"
    variants = [base[:i] + " " + base[i:] for i in range(1, 21)]
    df = spark.createDataFrame(
        [(s,) for s in [base] + variants], "surface string"
    )
    monkeypatch.setattr(dedup, "MAX_BUCKET", 4)
    cm_local = {
        r.surface: r.canonical
        for r in canon.canonical_map(df).collect()
    }
    assert canon.LAST_STRATEGY == "driver"
    cm_dist = {
        r.surface: r.canonical
        for r in canon.canonical_map(df, driver_threshold=0).collect()
    }
    assert cm_local == cm_dist
    assert len(set(cm_local.values())) == 1  # everything merged


def test_minhash_band_agreement_prefilter(spark):
    """A near-dup pair is found and an unrelated document pairs with
    nothing: every band collision reaches the exact-Jaccard verify, which
    alone decides the pair set."""
    rows = [
        (0, "adaptive query execution re-plans the physical stage graph " * 8),
        (1, "adaptive query execution re-plans the physical stage graphs " * 8),
        (2, "совершенно другой документ о другом содержании " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    strict = {
        (r.a, r.b)
        for r in dedup.minhash_near_dup_pairs(docs, jaccard_threshold=0.7)
        .collect()
    }
    assert (0, 1) in strict and not any(2 in p for p in strict)


def test_minhash_prefilter_capped_bucket_interaction(spark, monkeypatch):
    """A true near-dup pair whose agreeing bands mostly land in oversized
    (capped) buckets must still reach verify through the one band bucket
    that survives the cap."""
    base = "the same boilerplate page body repeated for web dedup tests " * 10
    boiler = [(i, base) for i in range(40)]
    # chosen so the pair's minhash signatures are IDENTICAL to each other
    # but differ from the boilerplate's in exactly ONE of 16 bands (verified
    # when the fixture was built): 15 of their 16 agreeing bands land in the
    # oversized boilerplate buckets, so only 1 agreement survives the cap —
    # and the texts differ, so the exact-recovery pass cannot rescue them
    near = [(900, base + " aa"), (901, base + " ab")]
    docs = spark.createDataFrame(boiler + near, "doc_id long, text string")
    monkeypatch.setattr(dedup, "MAX_BUCKET", 8)
    pairs = dedup.minhash_near_dup_pairs(docs, jaccard_threshold=0.7).collect()
    got = {(r.a, r.b) for r in pairs}
    assert (900, 901) in got
    # the boilerplate group still pairs via the exact recovery pass
    assert {(0, i) for i in range(1, 40)} <= got


def test_knn_join_probe_side_size_guard(spark, monkeypatch):
    """A corpus-sized probe side must fail loud (ValueError), not collect
    itself onto the driver (round-3 verdict item 4)."""
    import pytest

    from esgkg.ops import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    monkeypatch.setattr(simsearch, "MAX_QUERIES", 5)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        simsearch.scored_topk_per_partition(emb, emb, k=2)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        simsearch.pairwise_topk_join(emb, emb, k=2)
    # at-the-limit probe sides still work
    monkeypatch.setattr(simsearch, "MAX_QUERIES", 3)
    small = emb.limit(3)
    assert simsearch.pairwise_topk_join(emb, small, k=2).count() == 6


def test_nodes_from_stats_equal_materialize_nodes(spark, monkeypatch):
    """The pipeline's node path (surface_stats → nodes-from-stats) must
    produce byte-identical nodes to the generic
    materialize_nodes(rewrite_triples(...)) path, on both the broadcast and
    the shuffle join rungs, and its canonical map must equal the one-scan
    explode map."""
    from esgkg import vocab

    linked = _triples(spark, 100)
    protected = sorted(set(vocab.all_concept_surfaces().values())) + [
        "Organization"
    ]
    stats = graph.surface_stats(linked).localCheckpoint(eager=True)
    cmap = canon.canonical_map(
        stats.select(F.col("name").alias("surface")), exclude_exact=protected
    ).localCheckpoint(eager=True)
    # same map as the one-scan explode the pre-round-4 pipeline used
    cmap_old = canon.canonical_map(
        linked.select(F.explode(F.array("subj", "obj")).alias("surface")),
        exclude_exact=protected,
    )
    assert sorted(map(tuple, cmap.collect())) == sorted(
        map(tuple, cmap_old.collect())
    )
    triples = canon.rewrite_triples(linked, cmap)
    n1 = graph.materialize_nodes(triples, spark)
    for rows in (session.BROADCAST_ROWS, 0):  # broadcast rung, shuffle rung
        monkeypatch.setattr(session, "BROADCAST_ROWS", rows)
        n2 = graph.materialize_nodes_from_stats(stats, cmap, spark)
        assert sorted(map(tuple, n1.collect())) == sorted(
            map(tuple, n2.collect())
        )


def test_canonical_map_assume_distinct_equals_default(spark):
    """assume_distinct=True on an already-distinct pool (the pipeline feeds
    the surface_stats groupBy keys) must equal the default path on BOTH
    rungs — it only removes redundant dedup shuffles, never rows."""
    linked = _triples(spark, 60)
    pool = (
        linked.select(F.col("subj").alias("surface"))
        .union(linked.select(F.col("obj").alias("surface")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for thr in (4_096, 0):  # driver rung, distributed rung
        base = sorted(
            map(tuple, canon.canonical_map(pool, driver_threshold=thr).collect())
        )
        fast = sorted(
            map(
                tuple,
                canon.canonical_map(
                    pool, driver_threshold=thr, assume_distinct=True
                ).collect(),
            )
        )
        assert base == fast and base
