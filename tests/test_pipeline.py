"""Oracle-vs-Spark differential gates (SURVEY.md §5):

1. byte-identical extracted text per url (BASELINE.json input_hint),
2. triples P/R ≥ 0.95 on exact (subj, pred, obj) join
   (comparison semantics: /root/reference/src/evaluation/metrics.py:125-132),
3. multi-label section categorization equality,
4. canonicalization purity + bridged completeness,
5. graph invariants (no orphan edges),
6. idempotent manifest resume.
"""

import io
import json
import os
import shutil
import tempfile

import pytest

from esgkg import oracle, pipeline, synth, vocab
from esgkg.stages import canon, complete, corpus, graph, nlp, sections

N = 200


@pytest.fixture(scope="module")
def text_df(spark):
    return corpus.extract_text(corpus.synth_pages(spark, N)).cache()


def test_byte_identity(spark, text_df):
    got = {r.url: r.text for r in text_df.collect()}
    gold = oracle.gold_text(N)
    assert set(got) == set(gold)
    for url, g in gold.items():
        assert got[url].encode("utf-8") == g.encode("utf-8"), url


def test_triples_precision_recall(spark, text_df):
    pred = {
        (r.subj, r.pred, r.obj, r.url)
        for r in nlp.extract_triples(text_df).collect()
    }
    gold = oracle.gold_triples(N)
    p, r, f1 = oracle.precision_recall(pred, gold)
    assert p >= 0.95, p
    assert r >= 0.95, r


def test_sections_match_oracle(spark, text_df):
    got = {(r.url, r.category) for r in sections.categorize(text_df).collect()}
    gold = {(u, c) for u, c, _ in oracle.gold_sections(N)}
    assert got == gold


def test_canonicalization_purity_and_bridged_completeness(spark, text_df):
    linked = nlp.link_triples(nlp.extract_triples(text_df))
    surfaces = (
        linked.select("subj").union(linked.select("obj"))
        .withColumnRenamed("subj", "surface")
    )
    protected = sorted(set(vocab.all_concept_surfaces().values()))
    cm = {
        r.surface: r.canonical
        for r in canon.canonical_map(
            surfaces, exclude_exact=protected
        ).collect()
    }
    surface_group = {s: gid for s, gid in synth.gold_canon_groups()}
    # purity: no canonical id spans two gold groups
    canon_to_group: dict[str, int] = {}
    for s, c in cm.items():
        if s not in surface_group:
            continue
        gid = surface_group[s]
        assert canon_to_group.setdefault(c, gid) == gid, (s, c)
    # bridged completeness: if the group's base surface is present, all
    # present variants merge through it
    for grp in synth.company_pool():
        present = [s for s in grp if s in cm]
        if grp[0] in present and len(present) > 1:
            assert len({cm[s] for s in present}) == 1, present


def test_fused_equals_modular(spark, text_df):
    """The fused bench stage (synth→extract→nlp→link in one Arrow pass) must
    produce exactly the modular stages' rows, multiplicity included."""
    modular = sorted(
        map(tuple, nlp.link_triples(nlp.extract_triples(text_df)).collect())
    )
    fused = sorted(
        map(tuple, nlp.widen_linked(
            nlp.synth_linked_narrow(text_df.sparkSession, N)
        ).collect())
    )
    assert fused == modular and fused


def test_narrow_widen_roundtrip_equals_fused(spark, text_df, tmp_path):
    """The bench-mode materialization path (narrow (subj,pred,obj,pid) rows
    → parquet → widen_linked JVM projection) must reproduce the fused
    stage's full TRIPLES_SCHEMA rows exactly — url string formatting and
    confidence included — and the full fused output must equal the modular
    chain (covered by test_fused_equals_modular)."""
    path = str(tmp_path / "narrow")
    nlp.synth_linked_narrow(spark, N).write.parquet(path)
    widened = nlp.widen_linked(spark.read.parquet(path))
    assert [f.name for f in widened.schema.fields] == [
        "subj", "pred", "obj", "url", "confidence"
    ]
    got = sorted(map(tuple, widened.collect()))
    want = sorted(
        map(tuple, nlp.link_triples(nlp.extract_triples(text_df)).collect())
    )
    assert got == want and got


def test_canonical_map_local_equals_distributed(spark, text_df, monkeypatch):
    linked = nlp.link_triples(nlp.extract_triples(text_df))
    surfaces = (
        linked.select("subj").union(linked.select("obj"))
        .withColumnRenamed("subj", "surface")
    )
    protected = sorted(set(vocab.all_concept_surfaces().values()))
    fast = {
        r.surface: r.canonical
        for r in canon.canonical_map(
            surfaces, exclude_exact=protected
        ).collect()
    }
    # rung 2: distributed banding/verify + driver union-find on pairs
    mid = {
        r.surface: r.canonical
        for r in canon.canonical_map(
            surfaces, exclude_exact=protected, driver_threshold=0
        ).collect()
    }
    # rung 3: distributed banding/verify + distributed CC fixpoint
    monkeypatch.setattr(canon, "PAIR_THRESHOLD", 0)
    dist = {
        r.surface: r.canonical
        for r in canon.canonical_map(
            surfaces, exclude_exact=protected, driver_threshold=0
        ).collect()
    }
    assert fast == mid == dist


def test_cc_matches_networkx(spark):
    import networkx as nx

    pairs = [
        ("a", "b"), ("b", "c"), ("d", "e"), ("f", "f2"), ("f2", "f3"),
        ("x", "y"),
    ]
    df = spark.createDataFrame(pairs, "a string, b string")
    cc, on_driver = canon.connected_components(df)
    assert on_driver is True
    got = {r.surface: r.canonical for r in cc.collect()}
    g = nx.Graph(pairs)
    for comp in nx.connected_components(g):
        labels = {got[n] for n in comp}
        assert len(labels) == 1
        assert min(comp) == labels.pop()


def test_cc_distributed_fixpoint_runs_to_convergence(spark, monkeypatch):
    """Min-label propagation moves a label one hop per round, so a 30-node
    chain needs 29 rounds: the distributed fixpoint must run until no label
    changes, not stop after a fixed round count with unconverged labels."""
    chain = [f"s{i:02d}" for i in range(30)]
    df = spark.createDataFrame(list(zip(chain, chain[1:])), "a string, b string")
    monkeypatch.setattr(canon, "PAIR_THRESHOLD", 0)
    comp, on_driver = canon.connected_components(df)
    assert on_driver is False
    got = {r.surface: r.canonical for r in comp.collect()}
    assert got == {s: "s00" for s in chain}


def test_graph_invariants(spark, text_df):
    linked = nlp.link_triples(nlp.extract_triples(text_df))
    nodes, edges = graph.materialize(linked, spark)
    # J3: every edge endpoint exists (inner-join write semantics)
    ids = {r.id for r in nodes.collect()}
    for r in edges.select("src", "dst").collect():
        assert r.src in ids and r.dst in ids
    # no orphan nodes among extracted ones that came from triples
    assert graph.orphans(nodes, edges).count() == 0
    # ids deterministic: rebuild gives identical ids
    nodes2, _ = graph.materialize(linked, spark)
    assert {(r.id, r.name) for r in nodes2.collect()} == {
        (r.id, r.name) for r in nodes.collect()
    }


def test_subconcepts_pruned_lookup(spark):
    from pyspark.sql import functions as F

    nodes, edges = graph.seed_graph(spark)
    nodes = nodes.withColumn("id", F.xxhash64("name", F.lit(42)))
    e = (
        edges.join(nodes.select(F.col("name").alias("src_name"), F.col("id").alias("src")), "src_name")
        .join(nodes.select(F.col("name").alias("dst_name"), F.col("id").alias("dst")), "dst_name")
        .select("src", "dst", "relation")
    )
    subs = {r.name for r in graph.subconcepts(e, nodes, "気候変動").collect()}
    assert "温室効果ガス" in subs and "カーボンニュートラル" in subs


def test_adamic_adar_matches_networkx(spark):
    import networkx as nx

    edges = [
        (1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 5), (1, 6), (6, 7),
    ]
    df = spark.createDataFrame(
        [(a, b, "related_to", 1.0, "u") for a, b in edges],
        "src long, dst long, relation string, confidence double, url string",
    )
    got = {
        (r.src, r.dst): r.aa_score
        for r in complete.adamic_adar(df, top_k=100).collect()
    }
    g = nx.Graph(edges)
    for u, v, score in nx.adamic_adar_index(g):
        a, b = min(u, v), max(u, v)
        if score > 0:
            assert (a, b) in got, (a, b)
            assert abs(got[(a, b)] - score) < 1e-9
    # nothing proposed that networkx wouldn't
    nx_pairs = {
        (min(u, v), max(u, v))
        for u, v, s in nx.adamic_adar_index(
            g, [(a, b) for a in g for b in g if a < b and not g.has_edge(a, b)]
        )
        if s > 0
    }
    assert set(got) <= nx_pairs


def test_catalog_merge_upsert_semantics(spark):
    """S6 MERGE emulation: new rows win on key collision, others kept
    (Neo4j MERGE semantics, neo4j_manager.py:62,91)."""
    from esgkg.io import ParquetCatalog

    base = tempfile.mkdtemp(prefix="esgkg_merge_")
    try:
        cat = ParquetCatalog(base)
        cat.write(
            spark.createDataFrame(
                [("a", 1), ("b", 2)], "name string, v int"
            ),
            "t",
        )
        cat.merge(
            spark,
            spark.createDataFrame(
                [("b", 20), ("c", 3)], "name string, v int"
            ),
            "t",
            keys=["name"],
        )
        got = {(r.name, r.v) for r in cat.read(spark, "t").collect()}
        assert got == {("a", 1), ("b", 20), ("c", 3)}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_catalog_merge_updates_win_across_partitions(spark):
    """New rows win on every colliding key however both sides are
    partitioned: the merge must not depend on which duplicate a shuffle
    happens to keep."""
    from esgkg.io import ParquetCatalog

    base = tempfile.mkdtemp(prefix="esgkg_merge_parts_")
    conf = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(conf)
    try:
        # one read partition per parquet file, so the stored side is split too
        spark.conf.set(conf, "1k")
        cat = ParquetCatalog(base)
        old = spark.createDataFrame(
            [(i, "old") for i in range(300)], "k long, v string"
        )
        cat.write(old.repartition(4), "t")
        assert cat.read(spark, "t").rdd.getNumPartitions() >= 4
        updates = spark.createDataFrame(
            [(i, "new") for i in range(100, 400)], "k long, v string"
        ).repartition(5)
        cat.merge(spark, updates, "t", keys=["k"])
        rows = cat.read(spark, "t").collect()
        got = {r.k: r.v for r in rows}
        assert len(rows) == len(got) == 400
        assert all(got[i] == "new" for i in range(100, 400))
        assert all(got[i] == "old" for i in range(100))
    finally:
        spark.conf.set(conf, saved)
        shutil.rmtree(base, ignore_errors=True)


def test_manifest_resume_after_partial_run(spark):
    """Kill-between-stages semantics: commit only the first stages, then run
    the full pipeline — committed stages must be skipped (their output files
    untouched) and the final tables must equal a from-scratch run."""
    from esgkg.io import ParquetCatalog
    from esgkg.stages import corpus, manifest, nlp

    base = tempfile.mkdtemp(prefix="esgkg_partial_")
    try:
        runner = manifest.Runner(spark, ParquetCatalog(base))
        fp = pipeline.fingerprint(60, 42)
        # simulate a run killed after the first two stages committed
        pages = corpus.synth_pages(spark, 60)
        text = runner.run_stage("text", fp, lambda: corpus.extract_text(pages))
        runner.run_stage("raw_triples", fp, lambda: nlp.extract_triples(text))
        mtimes = {
            f: os.path.getmtime(os.path.join(base, "text", f))
            for f in os.listdir(os.path.join(base, "text"))
        }
        # full pipeline over the same inputs resumes and completes
        out = pipeline.build_kg(spark, 60, base_dir=base)
        got = {(r.subj, r.pred, r.obj, r.url) for r in out["triples"].collect()}
        # committed stage outputs were not rewritten
        for f, m in mtimes.items():
            assert os.path.getmtime(os.path.join(base, "text", f)) == m
        # equals a from-scratch run
        base2 = tempfile.mkdtemp(prefix="esgkg_scratch_")
        try:
            out2 = pipeline.build_kg(spark, 60, base_dir=base2)
            want = {
                (r.subj, r.pred, r.obj, r.url)
                for r in out2["triples"].collect()
            }
            assert got == want
        finally:
            shutil.rmtree(base2, ignore_errors=True)
        m = spark.read.parquet(f"{base}/_manifest")
        assert m.count() == m.select("stage").distinct().count()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_manifest_resume_idempotent(spark):
    base = tempfile.mkdtemp(prefix="esgkg_manifest_")
    try:
        out1 = pipeline.build_kg(spark, 60, base_dir=base)
        t1 = {
            (r.subj, r.pred, r.obj, r.url) for r in out1["triples"].collect()
        }
        # second run must skip recompute and read identical tables
        out2 = pipeline.build_kg(spark, 60, base_dir=base)
        t2 = {
            (r.subj, r.pred, r.obj, r.url) for r in out2["triples"].collect()
        }
        assert t1 == t2
        m = out1["triples"].sparkSession.read.parquet(f"{base}/_manifest")
        stages = {r.stage for r in m.collect()}
        assert "triples" in stages and "edges" in stages
        # exactly one commit per stage (no duplicate work on resume)
        assert m.count() == len(stages)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _sorted_rows(df, cols):
    """Rows of `df` projected to `cols`, maps as sorted item tuples, sorted."""
    return sorted(
        tuple(tuple(sorted(v.items())) if isinstance(v, dict) else v
              for v in r)
        for r in df.select(*cols).collect()
    )


def test_manifest_mode_equals_bench_mode(spark):
    """One stage list, two materializations: the manifest-mode catalog
    tables equal the bench-mode DataFrames row for row (multiplicity
    included), and each output table is committed exactly once
    (surface_stats is not an output table)."""
    tables = ("text", "raw_triples", "linked_triples", "canon_map",
              "triples", "nodes", "edges", "predicted_links")
    bench = pipeline.build_kg(spark, 60)
    base = tempfile.mkdtemp(prefix="esgkg_modes_")
    try:
        stored = pipeline.build_kg(spark, 60, base_dir=base)
        for name in tables:
            cols = bench[name].columns
            want = _sorted_rows(bench[name], cols)
            assert _sorted_rows(stored[name], cols) == want and want, name
        m = spark.read.parquet(f"{base}/_manifest")
        commits = {r.stage: r["count"]
                   for r in m.groupBy("stage").count().collect()}
        assert commits == dict.fromkeys(tables, 1)
        # footer counts: row_count is the table's, and the per-data-file
        # counts (keyed by path under the table) add up to it
        for r in m.collect():
            per_file = json.loads(r.partition_counts)
            assert r.row_count == stored[r.stage].count() > 0, r.stage
            assert sum(per_file.values()) == r.row_count, r.stage
            assert all(os.path.isfile(os.path.join(base, r.stage, f))
                       for f in per_file), r.stage
            if r.stage == "triples":  # partitioned by pred
                assert all(f.startswith("pred=") for f in per_file)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _digest(df):
    """(row count, order-independent sum of row hashes) of `df`, with its
    columns in their order."""
    from pyspark.sql import functions as F

    r = df.select(
        F.pmod(F.xxhash64(F.to_json(F.struct(*df.columns))), F.lit(1 << 40))
        .alias("h")
    ).agg(F.count("*").alias("n"), F.sum("h").alias("h")).collect()[0]
    return r.n, r.h


def test_manifest_mode_same_columns_and_digests_as_bench_mode(spark):
    """Every build_kg output has the same columns, in the same order, and
    the same (count, hash) digest in both modes: a partitioned catalog
    table reads back with its partition column last unless the pipeline
    restores the stage's order."""
    bench = pipeline.build_kg(spark, 60)
    base = tempfile.mkdtemp(prefix="esgkg_order_")
    try:
        stored = pipeline.build_kg(spark, 60, base_dir=base)
        assert stored.keys() == bench.keys() and len(bench) == 9
        for name, df in bench.items():
            assert stored[name].columns == df.columns, name
            assert _digest(stored[name]) == _digest(df), name
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_second_bench_build_keeps_memoized_scratch(spark):
    """A bench-mode build with other settings must not overwrite the
    parquet scratch behind an earlier build that the memo hands out
    again: the memoized DataFrames still read, with their first counts."""
    tables = ("linked_triples", "triples", "edges")
    first = pipeline.build_kg(spark, 60)
    want = {t: first[t].count() for t in tables}
    pipeline.build_kg(spark, 90)
    again = pipeline.build_kg(spark, 60)
    assert again is first
    assert {t: again[t].count() for t in tables} == want


def test_default_driver_mem_is_quarter_of_host_at_most_4g(monkeypatch):
    from esgkg import session

    def sized(total_kb):
        meminfo = f"MemTotal: {total_kb} kB\nMemFree: 1024 kB\n"
        monkeypatch.setattr(session, "open", lambda *a, **k: io.StringIO(
            meminfo), raising=False)
        return session.default_driver_mem()

    assert sized(15 * 1024 * 1024) == "3840m"  # 15 GiB host
    assert sized(8 * 1024 * 1024) == "2048m"
    assert sized(16 * 1024 * 1024) == "4096m"
    assert sized(256 * 1024 * 1024) == "4096m"  # capped at 4 GiB


def test_default_cores_is_usable_host_cpus(monkeypatch):
    from esgkg import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.default_cores() == 3  # the CPUs this process may use
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert session.default_cores() == 2


def test_manifest_concurrent_commits(spark):
    """Stages committed from concurrent driver threads (build_kg commits
    nodes and edges from two) each land exactly one manifest row."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from esgkg.io import ParquetCatalog
    from esgkg.stages import manifest

    base = tempfile.mkdtemp(prefix="esgkg_commits_")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        runner = manifest.Runner(spark, ParquetCatalog(base))
        names = [f"s{i:02d}" for i in range(16)]
        with ThreadPoolExecutor(max_workers=len(names)) as pool:
            futs = [
                pool.submit(runner.run_stage, n, "fp",
                            lambda: spark.range(3))
                for n in names
            ]
            for f in futs:
                assert f.result(timeout=300).count() == 3
        m = spark.read.parquet(f"{base}/_manifest")
        assert sorted(r.stage for r in m.collect()) == names
    finally:
        sys.setswitchinterval(interval)
        shutil.rmtree(base, ignore_errors=True)


def _jobs_of(spark, group, fn):
    """(fn(), ids of the Spark jobs fn launched on this thread)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_manifest_bookkeeping_runs_no_spark_job(spark):
    """Loading the manifest and committing to it run on the driver: a
    resumed stage launches at most the one job of its catalog read, and a
    commit launches none."""
    from esgkg.io import ParquetCatalog
    from esgkg.stages import manifest

    base = tempfile.mkdtemp(prefix="esgkg_jobs_")
    try:
        cat = ParquetCatalog(base)
        manifest.Runner(spark, cat).run_stage(
            "t", "fp", lambda: spark.range(50).repartition(3)
        )
        runner, jobs = _jobs_of(spark, "esgkg-load",
                                lambda: manifest.Runner(spark, cat))
        assert jobs == []

        def fail():
            raise AssertionError("a committed stage was produced again")

        out, jobs = _jobs_of(spark, "esgkg-resume",
                             lambda: runner.run_stage("t", "fp", fail))
        assert len(jobs) <= 1
        assert out.count() == 50
        _, jobs = _jobs_of(spark, "esgkg-commit",
                           lambda: runner._commit("t", "fp2"))
        assert jobs == []
        assert runner._committed("t", "fp2")
        assert manifest.Runner(spark, cat)._committed("t", "fp2")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_manifest_skips_stray_tmp_and_reads_mixed_writers(spark):
    """`_manifest` may hold Spark-written files (catalogs committed by
    older code) next to driver-written ones, and a `.tmp-*` file left by a
    commit killed before its rename. The Runner and spark.read.parquet both
    read every committed file and neither reads the stray one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from esgkg.io import ParquetCatalog
    from esgkg.stages import manifest

    base = tempfile.mkdtemp(prefix="esgkg_mixed_")
    try:
        cat = ParquetCatalog(base)
        mpath = cat.path(manifest.MANIFEST)
        spark.createDataFrame(
            [("old", "fp-old", 1, "{}", "{}", 1.0)],
            "stage string, input_fingerprint string, row_count long, "
            "partition_counts string, metrics string, committed_at double",
        ).write.mode("append").parquet(mpath)
        runner = manifest.Runner(spark, cat)
        runner.run_stage("t", "fp", lambda: spark.range(4))
        # a newer commit that never landed: if read, "t" would not resume
        pq.write_table(
            pa.Table.from_pylist([{
                "stage": "t", "input_fingerprint": "fp-stray", "row_count": 0,
                "partition_counts": "{}", "metrics": "{}",
                "committed_at": float("inf"),
            }], schema=manifest.SCHEMA),
            os.path.join(mpath, ".tmp-stray.parquet"),
        )
        again = manifest.Runner(spark, cat)
        assert again._committed("old", "fp-old")
        assert again._committed("t", "fp")
        rows = spark.read.parquet(mpath).collect()
        assert sorted((r.stage, r.input_fingerprint) for r in rows) == [
            ("old", "fp-old"), ("t", "fp")
        ]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_manifest_reproduces_uncommitted_table(spark):
    """A committed stage is produced again, not served, when its directory
    holds part files but no `_SUCCESS` (a rewrite killed before its job
    commit), or a complete table the commit does not list (a rewrite by
    another build killed before its manifest commit)."""
    from esgkg.io import ParquetCatalog
    from esgkg.stages import manifest

    base = tempfile.mkdtemp(prefix="esgkg_partial_table_")
    try:
        cat = ParquetCatalog(base)
        manifest.Runner(spark, cat).run_stage(
            "t", "fp", lambda: spark.range(10)
        )
        os.remove(os.path.join(cat.path("t"), "_SUCCESS"))
        assert any(f.endswith(".parquet") for f in os.listdir(cat.path("t")))
        assert not cat.exists("t")
        calls = []

        def produce():
            calls.append(1)
            return spark.range(7)

        out = manifest.Runner(spark, cat).run_stage("t", "fp", produce)
        assert calls == [1]
        assert out.count() == 7 and cat.exists("t")
        cat.write(spark.range(3), "t")
        out = manifest.Runner(spark, cat).run_stage("t", "fp", produce)
        assert calls == [1, 1]
        assert out.count() == 7
        m = spark.read.parquet(cat.path(manifest.MANIFEST))
        assert sorted(r.row_count for r in m.collect()) == [7, 7, 10]
    finally:
        shutil.rmtree(base, ignore_errors=True)
