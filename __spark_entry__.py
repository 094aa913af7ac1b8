"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship KG-construction slice on sf0.001 + synthetic pages.
`queries()` — one entry per implemented operator (SURVEY.md §2 + training-data
ops); each callable takes (spark, sf_dir) and returns a DataFrame.
`oracle_sql()` — DuckDB-runnable ANSI SQL equivalents; column names/rounding
match the Spark side exactly (the driver hashes values column-name-sorted).
Queries without an oracle entry are non-SQL-expressible (pipeline stages with
Python-kernel semantics, LSH/ANN internals) and get rows-only checks.
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Iterator
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry — flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize Common-Crawl-style pages + wrap the sf0.001
    documents table as HTML pages, run HTML→text extraction and the full
    triple-extraction path; return the canonical triples DataFrame."""
    from esgkg import pipeline
    from esgkg.stages import corpus, nlp

    sf_dir = "/root/testdata/sf0.001"
    # real parquet input exercised through the same extraction kernel
    wrapped = corpus.wrap_documents_as_pages(spark, sf_dir)
    doc_text = corpus.extract_text(
        wrapped.select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            "html",
            F.lit(None).cast("string").alias("text"),
            "lang",
        )
    )
    out = pipeline.build_kg(spark, n_pages=300)
    synth_triples = out["triples"]
    doc_triples = nlp.extract_triples(doc_text).select(
        "subj", "pred", "obj", "url", "confidence"
    )
    return synth_triples.unionByName(doc_triples)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q02_top_nations_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _q03_order_rank_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate"), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


def _q04_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


_DOC_CATEGORIES = {
    "Scan": ("scan", "table"),
    "Join": ("join", "merge", "hash"),
    "Window": ("window", "rank"),
}


def _q05_doc_keyword_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P3 analog on the documents table: multi-label keyword categorization
    docs = _t(spark, sf_dir, "documents")
    structs = []
    for cat, kws in _DOC_CATEGORIES.items():
        hit = F.lit(False)
        for kw in kws:
            hit = hit | F.contains(F.col("text"), F.lit(kw))
        structs.append(
            F.struct(F.lit(cat).alias("category"), hit.alias("matched"))
        )
    return (
        docs.withColumn(
            "_c", F.explode(F.filter(F.array(*structs), lambda s: s["matched"]))
        )
        .select("doc_id", F.col("_c.category").alias("category"))
    )


def _q06_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from esgkg.ops import textstats

    # global top-N via orderBy+limit (TakeOrderedAndProject — no single
    # partition shuffle); the rank column is assigned over the 50-row result
    top = textstats.token_frequency(_t(spark, sf_dir, "documents"), top_n=50)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("freq"), F.asc("token"))
    return top.select(
        "token", "freq", F.row_number().over(w).alias("rn")
    )


def _q07_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.ops import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs)


def _q08_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.ops import textstats

    return textstats.token_stats(_t(spark, sf_dir, "documents"))


def _q09_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.ops import textstats

    return textstats.lang_id(_t(spark, sf_dir, "documents"))


def _q10_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("id"), F.md5(F.col("text")).alias("md5_fp")
    )


def _q11_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.ops import simsearch

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = simsearch.cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)
    return top.select("id", F.round(F.col("score"), 6).alias("score"))


def _q12_char_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.ops import dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.char_jaccard_pairs(docs, threshold=0.5)
    return pairs.select(
        "a", "b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


def _q13_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.stages import complete

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
    )
    aa = complete.bipartite_adamic_adar(edges, "cust", "part")
    return (
        aa.orderBy(F.desc("common"), F.asc("a"), F.asc("b"))
        .limit(100)
        .select("a", "b", "common", F.round(F.col("aa_score"), 4).alias("aa_score"))
    )


def _q14_html_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Byte-identity of HTML→text extraction, externally checked: the oracle
    # is simply SELECT doc_id, text FROM documents — extraction must invert
    # the deterministic HTML wrapper exactly.
    import pandas as pd
    from pyspark.sql import types as T

    from esgkg.stages import corpus
    from esgkg import session as _session

    _session.ensure_shipped(spark)
    wrapped = corpus.wrap_documents_as_pages(spark, sf_dir)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel

        for pdf in batches:
            out = pdf[["doc_id"]].copy()
            out["text"] = [kernel.page_text(h) for h in pdf["html"]]
            yield out

    return wrapped.mapInPandas(run, schema=schema)


def _q15_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.ops import multimodal

    # format-split table (round-4 verdict item 3): 200 opaque payloads
    # through the deterministic fake decoder UNION 30 real BMP/PNG/JPEG/
    # GIF/WebP/palette-PNG payloads through the NATIVE decoders, so the
    # externally-checked golden exercises the real decode paths (all five
    # PNG filters, PLTE resolution, GIF LZW + palette, the JPEG/WebP
    # dimensions-only parses with their NULL luma); the decoder is picked
    # per row from meta['codec']
    return multimodal.extract_features(
        multimodal.synth_media(spark, 200)
        .unionByName(multimodal.synth_real_media(spark, 30))
    ).select(
        "media_id", "kind", "width", "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"), "n_bytes",
    )


def _q33_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.ops import multimodal

    # audio counterpart of q15's format split: the opaque audio rows of
    # the synthetic media table through the deterministic fake decoder
    # UNION 30 real WAV/MP3/FLAC payloads through the NATIVE decoders
    # (full 8/16-bit PCM decode; MP3 parameters-only with NULL
    # duration/rms; FLAC STREAMINFO with header-derivable duration).
    # kind= pushes the selection below the generator (round 6): only the
    # audio ids are synthesized instead of all 200 rows filtered to a third
    return multimodal.extract_audio_features(
        multimodal.synth_media(spark, 200, kind="audio")
        .unionByName(multimodal.synth_real_audio(spark, 30))
    ).select(
        "media_id", "kind", "sample_rate", "n_channels",
        F.round(F.col("duration_sec"), 6).alias("duration_sec"),
        F.round(F.col("rms"), 6).alias("rms"), "n_bytes",
    )


def _q34_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.ops import multimodal

    # video counterpart of q15/q33: the opaque video rows of the synthetic
    # media table through the deterministic fake parser UNION 30 real MP4
    # payloads through the NATIVE ISO-BMFF box walk (mvhd duration, tkhd
    # dimensions, both layout versions; audio-only files carry NULL dims).
    # kind= pushes the selection below the generator (round 6), as in q33
    return multimodal.extract_video_features(
        multimodal.synth_media(spark, 200, kind="video")
        .unionByName(multimodal.synth_real_video(spark, 30))
    ).select(
        "media_id", "kind", "width", "height",
        F.round(F.col("duration_sec"), 6).alias("duration_sec"), "n_bytes",
    )


def _q16_triples_by_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.stages import corpus, nlp

    text = corpus.extract_text(corpus.synth_pages(spark, 300))
    return (
        nlp.extract_triples(text)
        .groupBy("pred")
        .agg(F.count("*").alias("n_triples"))
    )


def _q17_canonical_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg import pipeline

    out = pipeline.build_kg(spark, n_pages=300)
    return out["triples"].select("subj", "pred", "obj", "url")


def _q18_predicted_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg import pipeline

    out = pipeline.build_kg(spark, n_pages=300)
    return out["predicted_links"].select(
        "src", "dst", "common_neighbors",
        F.round(F.col("aa_score"), 6).alias("aa_score"), "rank",
    )


def _q19_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.ops import simsearch

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = simsearch.ann_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)
    return top.select("id", F.round(F.col("score"), 6).alias("score"))


def _q20_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from esgkg.ops import simsearch

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus_vecs = emb.filter(F.col("vec_id") >= 5)
    out = simsearch.pairwise_topk_join(corpus_vecs, queries, k=5)
    return out.select(
        "query_id", "id", F.round(F.col("score"), 6).alias("score"), "rank"
    )


def _q21_top_third_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T4/F4 — the reference's keyword extractor: top floor(V/3) tokens by
    # frequency (/root/reference/src/evaluation/metrics.py:273-280).
    from esgkg.ops import textstats

    return textstats.top_third_keywords(_t(spark, sf_dir, "documents"))


def _q22_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # E1-E3 — Hits@k / MRR / MAP through complete.hits_mrr_map
    # (/root/reference/src/evaluation/metrics.py:140-180). Deterministic
    # fixture: per customer, "predicted" = parts ranked by total spend,
    # "gold" = parts with total quantity >= 60.
    from pyspark.sql import Window

    from esgkg.stages import complete

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    k = 5
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part")
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "spend"
            ),
            F.sum("l_quantity").alias("qty"),
        )
    )
    w = Window.partitionBy("cust").orderBy(F.desc("spend"), F.asc("part"))
    ranked = cp.select(
        F.col("cust").alias("src"),
        F.col("part").alias("dst"),
        F.row_number().over(w).alias("rank"),
    )
    gold = cp.filter(F.col("qty") >= 60).select(
        F.col("cust").alias("src"), F.col("part").alias("dst")
    )
    m = complete.hits_mrr_map(ranked, gold, k=k)
    return m.select(
        *(F.round(c, 6).alias(c) for c in ("hits_at_k", "mrr", "map")),
        "n_queries",
    )


def _q23_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A6/G5 — degree metrics over the customer-part bipartite graph
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    deg = edges.groupBy("cust").agg(F.count("*").alias("out_deg"))
    return deg.agg(
        F.count("*").alias("n_nodes"),
        F.max("out_deg").alias("max_deg"),
        F.min("out_deg").alias("min_deg"),
        F.round(F.avg("out_deg"), 6).alias("avg_deg"),
    )


def _q24_two_hop_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # G1-shaped bounded traversal with depth labels over the
    # region -> nation -> customer hierarchy (frontier-join per round)
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    d1 = r.join(n, r.r_regionkey == n.n_regionkey).select(
        F.col("n_name").alias("node"), F.lit(1).alias("depth")
    )
    d2 = (
        r.join(n, r.r_regionkey == n.n_regionkey)
        .join(c, n.n_nationkey == c.c_nationkey)
        .select(F.col("c_name").alias("node"), F.lit(2).alias("depth"))
    )
    return d1.unionByName(d2)


def _q25_events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tumbling-window aggregation (the streaming windowed-agg shape, batch
    # semantics identical): hourly event counts + mean value per type
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def _q26_group_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A2 — group-into-sets (reference defaultdict(set) pattern,
    # scripts/06:31-47): sorted distinct langs per source, joined to a
    # string so the value compare is order-stable across engines
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.array_join(F.sort_array(F.collect_set("lang")), ",").alias("langs"),
        F.countDistinct("lang").alias("n_langs"),
    )


def _q27_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gap-based sessionization over the events stream (30-min inactivity
    # boundary): lag window -> boundary flag -> running session index.
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").withColumn(
        "tsec", F.col("ts").cast("timestamp").cast("long")
    )
    # order by the truncated second (+ event_id tie-break) in BOTH engines so
    # tie-breaks are bit-identical with the DuckDB oracle (round-1 hash-fail)
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    tsec = F.col("tsec")
    gap = tsec - F.lag(tsec).over(w)
    boundary = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        e.withColumn("boundary", boundary)
        .withColumn(
            "session_idx",
            F.sum("boundary").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            (F.max("tsec") - F.min("tsec")).alias("duration_sec"),
        )
    )
    return sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("duration_sec").alias("max_session_sec"),
    )


def _q28_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-engine-checkable MinHash: 4 hash functions realized as
    # md5(seed || token), min per doc — the same shingle→minhash→signature
    # computation the LSH dedup path uses (kernel version uses blake2b;
    # md5 here because both Spark and DuckDB expose it bit-identically).
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{seed}|"), F.col("token")))).alias(
            f"mh{seed}"
        )
        for seed in range(4)
    ]
    return tok.groupBy("doc_id").agg(*aggs)


_ANSWER_CONCEPTS = ("scan", "join", "window", "table")
_DOMAIN_SET = ("scan", "join", "window", "table", "hash", "merge",
               "quantum", "blockchain")


def _q29_answer_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A9 — the reference's answer-quality evaluator
    # (/root/reference/src/evaluation/metrics.py:221-265) over a
    # deterministic fixture: each doc "answers" the next doc (doc_id+1)
    from esgkg.stages import metrics

    docs = _t(spark, sf_dir, "documents")
    d1 = docs.select("doc_id", F.col("text").alias("generated"))
    d2 = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("reference")
    )
    pairs = d1.join(d2, "doc_id")
    out = metrics.answer_quality(
        pairs, "doc_id", context_concepts=_ANSWER_CONCEPTS
    )
    return out.select(
        F.col("id").alias("doc_id"), "concept_usage", "word_overlap",
        "answer_length", "vocabulary_size", "keyword_match",
    )


def _q30_domain_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A7 — domain-concept coverage metrics
    # (/root/reference/src/evaluation/metrics.py:46-65): the "ontology
    # concept set" is the corpus vocabulary, the domain set a fixed list
    from esgkg.stages import metrics

    docs = _t(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(metrics.ref_tokens(F.col("text"))).alias("name")
    )
    return metrics.coverage_metrics(tokens, list(_DOMAIN_SET))


def _q31_evaluation_harness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.9 evaluation runner (/root/reference/scripts/05_evaluation.py:
    # 119-148 analog): synthesize test cases from the built KG, run
    # relation-inference accuracy + RAG coverage, emit the aggregate row.
    # Not SQL-expressible (hash-embedding subgraph search + BFS) — checked
    # against the committed single-node golden (tests/golden/
    # q31_evaluation_harness.parquet, gen_goldens.gold_q31) plus the
    # hand-computed pytest fixtures in tests/test_evaluators.py.
    from esgkg import pipeline
    from esgkg.stages import evaluate

    out = pipeline.build_kg(spark, n_pages=300)
    nodes, edges = out["nodes"], out["edges"]
    cases = evaluate.synth_test_cases(nodes, edges, n_cases=3)
    res = evaluate.run_evaluation(nodes, edges, cases)
    return spark.createDataFrame(
        [
            (
                float(res["relation_inference"]["accuracy"]),
                round(float(res["rag_queries"]["avg_node_coverage"]), 6),
                round(float(res["rag_queries"]["avg_relation_coverage"]), 6),
                len(cases["relation_inference_cases"]),
                len(cases["rag_cases"]),
            )
        ],
        "accuracy double, avg_node_coverage double, "
        "avg_relation_coverage double, n_rel_cases int, n_rag_cases int",
    )


def _q32_embedding_similarity_pairs(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    # embedding-cosine near-dup, EXACT variant (oracle-checkable): bounded
    # self-join + JVM cosine (simsearch.dot) in double precision.
    from esgkg.ops import simsearch

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    vec = F.col("embedding").cast("array<double>")
    a = emb.select(F.col("vec_id").alias("a"), vec.alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), vec.alias("vb"))
    va, vb = F.col("va"), F.col("vb")
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("cosine", simsearch.dot(va, vb)
                    / (simsearch.norm(va) * simsearch.norm(vb)))
        .filter(F.col("cosine") >= 0.3)
        .select("a", "b", F.round(F.col("cosine"), 6).alias("cosine"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": _q01_pricing_summary,
        "q02_top_nations_revenue": _q02_top_nations_revenue,
        "q03_order_rank_window": _q03_order_rank_window,
        "q04_events_by_type": _q04_events_by_type,
        "q05_doc_keyword_sections": _q05_doc_keyword_sections,
        "q06_token_frequency": _q06_token_frequency,
        "q07_exact_dedup": _q07_exact_dedup,
        "q08_quality_scores": _q08_quality_scores,
        "q09_lang_id": _q09_lang_id,
        "q10_fingerprints": _q10_fingerprints,
        "q11_cosine_topk": _q11_cosine_topk,
        "q12_char_jaccard_pairs": _q12_char_jaccard_pairs,
        "q13_adamic_adar": _q13_adamic_adar,
        "q14_html_roundtrip": _q14_html_roundtrip,
        "q15_media_features": _q15_media_features,
        "q16_triples_by_pred": _q16_triples_by_pred,
        "q17_canonical_triples": _q17_canonical_triples,
        "q18_predicted_links": _q18_predicted_links,
        "q19_ann_topk": _q19_ann_topk,
        "q20_knn_join": _q20_knn_join,
        "q21_top_third_keywords": _q21_top_third_keywords,
        "q22_ranking_metrics": _q22_ranking_metrics,
        "q23_degree_stats": _q23_degree_stats,
        "q24_two_hop_traversal": _q24_two_hop_traversal,
        "q25_events_hourly_window": _q25_events_hourly_window,
        "q26_group_sets": _q26_group_sets,
        "q27_sessionize": _q27_sessionize,
        "q28_minhash_signatures": _q28_minhash_signatures,
        "q29_answer_quality": _q29_answer_quality,
        "q30_domain_coverage": _q30_domain_coverage,
        "q31_evaluation_harness": _q31_evaluation_harness,
        "q32_embedding_similarity_pairs": _q32_embedding_similarity_pairs,
        "q33_audio_features": _q33_audio_features,
        "q34_video_features": _q34_video_features,
    }


def oracle_sql() -> dict[str, str]:
    kw_union = " UNION ALL ".join(
        f"SELECT doc_id, '{cat}' AS category FROM documents WHERE "
        + " OR ".join(f"text LIKE '%{kw}%'" for kw in kws)
        for cat, kws in _DOC_CATEGORIES.items()
    )
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_top_nations_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q03_order_rank_window": """
            SELECT o_custkey, o_orderkey, rn FROM (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey) AS rn
                FROM orders
            ) WHERE rn <= 3
        """,
        "q04_events_by_type": """
            SELECT event_type, count(*) AS n_events,
                   round(avg(value), 6) AS avg_value,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY event_type
        """,
        "q05_doc_keyword_sections": kw_union,
        "q06_token_frequency": """
            SELECT token, freq, rn FROM (
                SELECT token, freq,
                       row_number() OVER (ORDER BY freq DESC, token ASC) AS rn
                FROM (
                    SELECT token, count(*) AS freq FROM (
                        SELECT unnest(string_split(text, ' ')) AS token
                        FROM documents
                    ) WHERE token <> '' GROUP BY token
                )
            ) WHERE rn <= 50
        """,
        "q07_exact_dedup": """
            SELECT min(doc_id) AS keep_id, count(*) AS n_dupes
            FROM documents GROUP BY text
        """,
        "q08_quality_scores": """
            SELECT doc_id AS id,
                   len(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS n_ws_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish_tokens,
                   length(text) AS n_chars_calc
            FROM documents
        """,
        "q09_lang_id": """
            SELECT doc_id AS id,
                   CASE WHEN length(regexp_replace(text, '[^ぁ-んァ-ヶー]', '', 'g'))
                           + length(regexp_replace(text, '[^一-龯]', '', 'g'))
                        > length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        THEN 'ja' ELSE 'latin' END AS lang_pred
            FROM documents
        """,
        "q10_fingerprints": """
            SELECT doc_id AS id, md5(text) AS md5_fp FROM documents
        """,
        "q11_cosine_topk": """
            SELECT vec_id AS id,
                   round(list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                        WHERE vec_id = 0)), 6) AS score
            FROM embeddings WHERE vec_id <> 0
            ORDER BY list_cosine_similarity(
                       CAST(embedding AS DOUBLE[]),
                       (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                        WHERE vec_id = 0)) DESC, vec_id ASC
            LIMIT 10
        """,
        "q12_char_jaccard_pairs": """
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(jaccard(a.text, b.text), 6) AS jaccard
            FROM documents a JOIN documents b
              ON a.n_chars = b.n_chars AND a.doc_id < b.doc_id
            WHERE jaccard(a.text, b.text) >= 0.5
        """,
        "q13_adamic_adar": """
            WITH edges AS (
                SELECT DISTINCT o_custkey AS cust, l_partkey AS part
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), deg AS (
                SELECT part, count(*) AS deg_p FROM edges GROUP BY part
            ), ed AS (
                SELECT e.cust, e.part, d.deg_p FROM edges e
                JOIN deg d ON e.part = d.part
                WHERE d.deg_p >= 2 AND d.deg_p <= 1000
            ), scored AS (
                SELECT l.cust AS a, r.cust AS b, count(*) AS common,
                       sum(1.0 / ln(l.deg_p)) AS aa_score
                FROM ed l JOIN ed r
                  ON l.part = r.part AND l.cust < r.cust
                GROUP BY l.cust, r.cust
                HAVING count(*) >= 2
            )
            SELECT a, b, common, round(aa_score, 4) AS aa_score FROM scored
            ORDER BY common DESC, a ASC, b ASC LIMIT 100
        """,
        "q14_html_roundtrip": """
            SELECT doc_id, text FROM documents
        """,
        "q21_top_third_keywords": """
            WITH freq AS (
                SELECT token, count(*) AS freq FROM (
                    SELECT unnest(string_split(text, ' ')) AS token
                    FROM documents
                ) WHERE token <> '' GROUP BY token
            ), ranked AS (
                SELECT token, freq,
                       row_number() OVER (ORDER BY freq DESC, token ASC) AS rn
                FROM freq
            )
            SELECT token, freq FROM ranked
            WHERE rn <= (SELECT count(*) // 3 FROM freq)
        """,
        "q22_ranking_metrics": """
            WITH cp AS (
                SELECT o_custkey AS cust, l_partkey AS part,
                       sum(l_extendedprice * (1 - l_discount)) AS spend,
                       sum(l_quantity) AS qty
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY o_custkey, l_partkey
            ), ranked AS (
                SELECT cust, part, qty,
                       row_number() OVER (PARTITION BY cust
                                          ORDER BY spend DESC, part ASC) AS rank
                FROM cp
            ), hit AS (
                SELECT cust, rank,
                       CASE WHEN qty >= 60 THEN 1 ELSE 0 END AS hit
                FROM ranked WHERE rank <= 5
            ), cum AS (
                SELECT cust, rank, hit,
                       sum(hit) OVER (PARTITION BY cust ORDER BY rank
                                      ROWS UNBOUNDED PRECEDING) AS cum
                FROM hit
            ), per AS (
                SELECT cust,
                       sum(hit) / 5.0 AS hits_at_k,
                       max(CASE WHEN hit = 1 THEN 1.0 / rank ELSE 0.0 END) AS rr,
                       sum(hit) AS n_hits,
                       sum(CASE WHEN hit = 1 THEN cum * 1.0 / rank
                                ELSE 0.0 END) AS ap_sum
                FROM cum GROUP BY cust
            )
            SELECT round(avg(hits_at_k), 6) AS hits_at_k,
                   round(avg(rr), 6) AS mrr,
                   round(avg(CASE WHEN n_hits > 0 THEN ap_sum / n_hits
                                  ELSE 0.0 END), 6) AS map,
                   count(*) AS n_queries
            FROM per
        """,
        "q23_degree_stats": """
            WITH edges AS (
                SELECT DISTINCT o_custkey AS cust, l_partkey AS part
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), deg AS (
                SELECT cust, count(*) AS out_deg FROM edges GROUP BY cust
            )
            SELECT count(*) AS n_nodes, max(out_deg) AS max_deg,
                   min(out_deg) AS min_deg,
                   round(avg(out_deg), 6) AS avg_deg
            FROM deg
        """,
        "q24_two_hop_traversal": """
            SELECT n_name AS node, 1 AS depth
            FROM region JOIN nation ON r_regionkey = n_regionkey
            WHERE r_name = 'ASIA'
            UNION ALL
            SELECT c_name AS node, 2 AS depth
            FROM region
            JOIN nation ON r_regionkey = n_regionkey
            JOIN customer ON n_nationkey = c_nationkey
            WHERE r_name = 'ASIA'
        """,
        "q25_events_hourly_window": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   event_type, count(*) AS n_events,
                   round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1, 2
        """,
        "q26_group_sets": """
            SELECT source,
                   string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
                   count(DISTINCT lang) AS n_langs
            FROM documents GROUP BY source
        """,
        "q27_sessionize": """
            WITH ev AS (
                SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
                FROM events
            ), flagged AS (
                SELECT user_id, event_id, tsec,
                       CASE WHEN lag(tsec) OVER w IS NULL
                                 OR tsec - lag(tsec) OVER w > 1800
                            THEN 1 ELSE 0 END AS boundary
                FROM ev
                WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)
            ), sessed AS (
                SELECT user_id, tsec,
                       sum(boundary) OVER (PARTITION BY user_id
                                           ORDER BY tsec, event_id
                                           ROWS UNBOUNDED PRECEDING)
                           AS session_idx
                FROM flagged
            ), sess AS (
                SELECT user_id, session_idx, count(*) AS n_events,
                       max(tsec) - min(tsec) AS duration_sec
                FROM sessed GROUP BY user_id, session_idx
            )
            SELECT user_id, count(*) AS n_sessions,
                   CAST(sum(n_events) AS BIGINT) AS n_events,
                   CAST(max(duration_sec) AS BIGINT) AS max_session_sec
            FROM sess GROUP BY user_id
        """,
        "q28_minhash_signatures": """
            SELECT doc_id,
                   min(md5('0|' || token)) AS mh0,
                   min(md5('1|' || token)) AS mh1,
                   min(md5('2|' || token)) AS mh2,
                   min(md5('3|' || token)) AS mh3
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
            ) WHERE token <> ''
            GROUP BY doc_id
        """,
        "q29_answer_quality": """
            WITH pairs AS (
                SELECT a.doc_id, a.text AS gen, b.text AS ref
                FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            ), tok AS (
                SELECT doc_id, 'g' AS side,
                       unnest(list_filter(string_split(
                           regexp_replace(gen, '[、。！？「」『』（）［］\\s]+',
                                          ' ', 'g'), ' '), x -> x <> ''))
                           AS token
                FROM pairs
                UNION ALL
                SELECT doc_id, 'r',
                       unnest(list_filter(string_split(
                           regexp_replace(ref, '[、。！？「」『』（）［］\\s]+',
                                          ' ', 'g'), ' '), x -> x <> ''))
                FROM pairs
            ), dist AS (
                SELECT DISTINCT doc_id, side, token FROM tok
            ), wo AS (
                SELECT g.doc_id, count(*) AS n_int
                FROM dist g JOIN dist r
                  ON g.doc_id = r.doc_id AND g.token = r.token
                 AND g.side = 'g' AND r.side = 'r'
                GROUP BY g.doc_id
            ), sizes AS (
                SELECT doc_id,
                       count(*) FILTER (WHERE side = 'g') AS n_gw,
                       count(*) FILTER (WHERE side = 'r') AS n_rw
                FROM dist GROUP BY doc_id
            ), freq AS (
                SELECT doc_id, side, token, count(*) AS freq
                FROM tok GROUP BY 1, 2, 3
            ), kw AS (
                SELECT doc_id, side, token FROM (
                    SELECT doc_id, side, token,
                           row_number() OVER (PARTITION BY doc_id, side
                                              ORDER BY freq DESC, token ASC)
                               AS rn,
                           count(*) OVER (PARTITION BY doc_id, side) AS v
                    FROM freq
                ) WHERE rn <= v // 3
            ), kint AS (
                SELECT g.doc_id, count(*) AS n_int
                FROM kw g JOIN kw r
                  ON g.doc_id = r.doc_id AND g.token = r.token
                 AND g.side = 'g' AND r.side = 'r'
                GROUP BY g.doc_id
            ), ksize AS (
                SELECT doc_id, count(*) AS n_rk
                FROM kw WHERE side = 'r' GROUP BY doc_id
            )
            SELECT p.doc_id,
                   round(((p.gen LIKE '%scan%')::INT + (p.gen LIKE '%join%')::INT
                        + (p.gen LIKE '%window%')::INT
                        + (p.gen LIKE '%table%')::INT) / 4.0, 6)
                       AS concept_usage,
                   round(CASE WHEN s.n_rw > 0
                              THEN coalesce(w.n_int, 0) * 1.0 / s.n_rw
                              ELSE 0.0 END, 6) AS word_overlap,
                   length(p.gen) AS answer_length,
                   CAST(s.n_gw AS BIGINT) AS vocabulary_size,
                   round(CASE WHEN coalesce(k.n_rk, 0) > 0
                              THEN coalesce(ki.n_int, 0) * 1.0 / k.n_rk
                              ELSE 0.0 END, 6) AS keyword_match
            FROM pairs p
            LEFT JOIN sizes s ON p.doc_id = s.doc_id
            LEFT JOIN wo w ON p.doc_id = w.doc_id
            LEFT JOIN ksize k ON p.doc_id = k.doc_id
            LEFT JOIN kint ki ON p.doc_id = ki.doc_id
        """,
        "q30_domain_coverage": """
            WITH tok AS (
                SELECT DISTINCT unnest(list_filter(string_split(
                    regexp_replace(text, '[、。！？「」『』（）［］\\s]+',
                                   ' ', 'g'), ' '), x -> x <> '')) AS token
                FROM documents
            ), agg AS (
                SELECT count(*) AS n_ontology,
                       CAST(sum(CASE WHEN token IN ('scan','join','window',
                           'table','hash','merge','quantum','blockchain')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
                FROM tok
            )
            SELECT 8 AS n_domain, n_ontology, n_covered,
                   round(n_covered / 8.0, 6) AS concept_coverage,
                   round(n_covered * 1.0 / n_ontology, 6) AS concept_precision,
                   round(2.0 * n_covered / (8 + n_ontology), 6) AS concept_f1
            FROM agg
        """,
        "q32_embedding_similarity_pairs": """
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_cosine_similarity(
                       list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(b.embedding, x -> CAST(x AS DOUBLE))
                   ), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 400 AND b.vec_id < 400
              AND list_cosine_similarity(
                      list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                      list_transform(b.embedding, x -> CAST(x AS DOUBLE))
                  ) >= 0.3
        """,
        # q15-q20, q31: non-SQL-expressible (Python-kernel pipeline
        # semantics, LSH/ANN bucketing, Arrow-batched media decode,
        # hash-embedding subgraph search + BFS) → rows-only checks here;
        # externally checked instead by the committed golden fixtures
        # (tests/golden/, tools/gen_goldens.py) — tools/check_entry.py
        # diffs them into CORRECTNESS_local.json alongside the SQL rows.
    }
