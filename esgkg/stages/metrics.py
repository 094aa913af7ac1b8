"""Evaluation / structural metrics (SURVEY.md §2.5 A6-A10, §2.6 G4-G6, J1).

DataFrame re-expressions of /root/reference/src/evaluation/metrics.py:

* relation_prf — exact (subj, pred, obj) join P/R/F1 (metrics.py:106-138;
  the J1 harness behind the ≥0.95 gate).
* structural_metrics — density, orphan count, max in/out degree, leaf/root
  counts (metrics.py:26-44, 90-94).
* redundant_is_a — parent reachable from another parent (metrics.py:96-102)
  via the transitive closure, which has no path-length bound (like
  ``nx.ancestors``): it runs until a round adds no pair.
* has_cycle — a node that reaches itself in that closure (metrics.py:83-88).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import graph as graph_stage

# The reference's simple tokenizer (metrics.py:267-271): strip JA punctuation
# + whitespace, split on runs of spaces.
REF_TOKEN_PUNCT = r"[、。！？「」『』（）［］\s]+"


def ref_tokens(col):
    """Column expr: the reference `_tokenize` as an array<string>."""
    return F.filter(
        F.split(F.regexp_replace(col, REF_TOKEN_PUNCT, " "), " "),
        lambda t: t != "",
    )


def _n_in(col: Column, values) -> Column:
    """Aggregate: the number of rows whose `col` is one of the literal
    `values`."""
    arr = F.array(*[F.lit(v) for v in values])
    return F.sum(F.when(F.array_contains(arr, col), 1).otherwise(0))


def relation_prf(pred: DataFrame, gold: DataFrame) -> dict[str, float]:
    """Exact 3-column intersection P/R/F1 (order-insensitive, J1)."""
    p = pred.select("subj", "pred", "obj").distinct().localCheckpoint()
    g = gold.select("subj", "pred", "obj").distinct().localCheckpoint()
    tp = p.join(g, ["subj", "pred", "obj"]).count()
    np_, ng = p.count(), g.count()
    precision = tp / np_ if np_ else 0.0
    recall = tp / ng if ng else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return {"precision": precision, "recall": recall, "f1": f1, "tp": tp}


def structural_metrics(nodes: DataFrame, edges: DataFrame) -> dict[str, float]:
    n = nodes.count()
    e = edges.count()
    deg = graph_stage.degrees(edges).localCheckpoint()
    agg = deg.agg(
        F.max("in_deg").alias("max_in"),
        F.max("out_deg").alias("max_out"),
        F.avg("out_deg").alias("avg_branching"),
    ).collect()[0]
    orphans = graph_stage.orphans(nodes, edges).count()
    leaves = deg.filter(F.col("in_deg") == 0).count()
    roots = deg.filter(F.col("out_deg") == 0).count()
    return {
        "num_nodes": n,
        "num_edges": e,
        "density": graph_stage.density(n, e),
        "max_in_degree": agg["max_in"],
        "max_out_degree": agg["max_out"],
        "avg_branching": agg["avg_branching"],
        "num_orphans": orphans,
        "num_leaves": leaves,
        "num_roots": roots,
    }


def coverage_metrics(concepts: DataFrame,
                     domain_concepts: list[str]) -> DataFrame:
    """A7 — domain-concept coverage of the ontology (ref metrics.py:46-65):
    one row (n_domain, n_ontology, n_covered, concept_coverage,
    concept_precision, concept_f1) over the `name` column. Set sizes via
    distinct counts; the domain set is a literal broadcast list."""
    names = concepts.select("name").distinct()
    agg = names.agg(
        F.count("*").alias("n_ontology"),
        _n_in(F.col("name"), domain_concepts).alias("n_covered"),
    )
    n_dom = F.lit(len(domain_concepts))
    return agg.select(
        n_dom.alias("n_domain"),
        "n_ontology",
        "n_covered",
        F.round(F.col("n_covered") / n_dom, 6).alias("concept_coverage"),
        F.round(F.col("n_covered") / F.col("n_ontology"), 6).alias(
            "concept_precision"
        ),
        F.round(
            2 * F.col("n_covered") / (n_dom + F.col("n_ontology")), 6
        ).alias("concept_f1"),
    )


def _keyword_sets(df: DataFrame, id_col: str, text_col: str,
                  out_col: str) -> DataFrame:
    """Per-row reference `_extract_keywords` (metrics.py:273-280): top
    ⌊V/3⌋ tokens by frequency. The reference breaks frequency ties by dict
    insertion order (Counter.most_common) — nondeterministic across corpora;
    here ties break (freq desc, token asc), the documented deterministic
    divergence (same as the q21 keyword op). Windows are PARTITIONED by the
    row id — no global window, scales with row count."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(ref_tokens(F.col(text_col))).alias("token"),
    )
    freq = tok.groupBy("id", "token").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("id").orderBy(F.desc("freq"), F.asc("token"))
    v = Window.partitionBy("id")
    kw = (
        freq.withColumn("rn", F.row_number().over(w))
        .withColumn("v", F.count("*").over(v))
        .filter(F.col("rn") <= F.floor(F.col("v") / 3))
    )
    return kw.groupBy("id").agg(F.collect_set("token").alias(out_col))


def answer_quality(pairs: DataFrame, id_col: str = "id",
                   context_concepts: tuple[str, ...] = ()) -> DataFrame:
    """A9 — the reference's answer-quality evaluator
    (GraphRAGEvaluator.evaluate_answer_quality, ref metrics.py:221-265) as a
    per-row DataFrame op over (id_col, generated, reference) pairs:

    * concept_usage — fraction of context concepts appearing (substring) in
      the generated answer,
    * word_overlap — |distinct(gen) ∩ distinct(ref)| / |distinct(ref)|,
    * answer_length — len(generated),
    * vocabulary_size — |distinct(gen)|,
    * keyword_match — top-third keyword set intersection / |ref keywords|.

    Everything except the per-row keyword extraction is whole-stage-codegen
    JVM expressions; keywords use id-partitioned windows (scales with rows).
    Divergence from the reference: ZeroDivision on an empty reference is
    mapped to 0.0 instead of crashing."""
    base = pairs.select(
        F.col(id_col).alias("id"),
        F.col("generated").alias("_gen"),
        F.array_distinct(ref_tokens(F.col("generated"))).alias("_gw"),
        F.array_distinct(ref_tokens(F.col("reference"))).alias("_rw"),
    )
    if context_concepts:
        used = sum(
            F.when(F.contains(F.col("_gen"), F.lit(c)), 1).otherwise(0)
            for c in context_concepts
        )
        usage = F.round(used / F.lit(len(context_concepts)), 6)
    else:
        usage = F.lit(0.0)
    per_row = base.select(
        "id",
        usage.alias("concept_usage"),
        F.round(
            F.when(
                F.size("_rw") > 0,
                F.size(F.array_intersect("_gw", "_rw")) / F.size("_rw"),
            ).otherwise(0.0),
            6,
        ).alias("word_overlap"),
        F.length("_gen").alias("answer_length"),
        F.size("_gw").alias("vocabulary_size"),
    )
    gen_kw = _keyword_sets(pairs, id_col, "generated", "gk")
    ref_kw = _keyword_sets(pairs, id_col, "reference", "rk")
    kws = gen_kw.join(ref_kw, "id", "full").select(
        "id",
        F.round(
            F.when(
                F.size(F.coalesce("rk", F.array())) > 0,
                F.size(
                    F.array_intersect(
                        F.coalesce("gk", F.array().cast("array<string>")),
                        F.col("rk"),
                    )
                )
                / F.size("rk"),
            ).otherwise(0.0),
            6,
        ).alias("keyword_match"),
    )
    return per_row.join(kws, "id", "left").na.fill({"keyword_match": 0.0})


def subgraph_relevance(query: str, nodes: DataFrame, edges: DataFrame,
                       reference_concepts: list[str]) -> DataFrame:
    """A7/A9 — the reference's subgraph-relevance evaluator
    (GraphRAGEvaluator.evaluate_subgraph_relevance, ref metrics.py:185-219):
    one row (concept_coverage, query_relevance, graph_density) for an
    extracted subgraph. Query relevance is word overlap between the
    tokenized query and the tokenized node names."""
    import re

    q_words = [w for w in re.sub(REF_TOKEN_PUNCT, " ", query).split() if w]
    names = nodes.select(F.col("name")).distinct()
    cov = names.agg(
        _n_in(F.col("name"), reference_concepts).alias("n_cov")
    )
    cw = (
        names.select(F.explode(ref_tokens(F.col("name"))).alias("w"))
        .distinct()
        .agg(_n_in(F.col("w"), q_words).alias("n_qw"))
    )
    density = graph_stage.density(nodes.count(), edges.count())
    row = cov.crossJoin(cw).select(
        F.round(F.col("n_cov") / F.lit(max(len(reference_concepts), 1)), 6)
        .alias("concept_coverage"),
        F.round(F.col("n_qw") / F.lit(max(len(q_words), 1)), 6).alias(
            "query_relevance"
        ),
        F.lit(round(density, 6)).alias("graph_density"),
    )
    return row


def transitive_closure(edges: DataFrame,
                       relation: str | None = None) -> DataFrame:
    """(src, dst) reachability pairs by iterative doubling-free expansion:
    one edge hop per round, until a round adds no pair (G6)."""
    e = edges
    if relation is not None:
        e = e.filter(F.col("relation") == relation)
    e = e.select("src", "dst").distinct().localCheckpoint(eager=True)
    reach, n = e, e.count()
    while True:
        step = (
            reach.alias("r")
            .join(e.alias("e"), F.col("r.dst") == F.col("e.src"))
            .select(F.col("r.src").alias("src"), F.col("e.dst").alias("dst"))
        )
        new_reach = reach.union(step).distinct().localCheckpoint(eager=True)
        new_n = new_reach.count()
        if new_n == n:
            return reach
        reach, n = new_reach, new_n


def has_cycle(edges: DataFrame) -> bool:
    """G4 — a node that reaches itself closes a cycle."""
    tc = transitive_closure(edges)
    return tc.filter(F.col("src") == F.col("dst")).limit(1).count() > 0


def redundant_is_a(edges: DataFrame) -> DataFrame:
    """G6 — is_a edges (c → p) where p is already reachable from another
    parent of c (the redundant-relation detector, metrics.py:96-102)."""
    isa = edges.filter(F.col("relation") == "is_a").select("src", "dst")
    tc = transitive_closure(edges, relation="is_a")
    other_parent = isa.alias("a").join(
        isa.alias("b"),
        (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") != F.col("b.dst")),
    ).select(
        F.col("a.src").alias("src"),
        F.col("a.dst").alias("dst"),
        F.col("b.dst").alias("other"),
    )
    return (
        other_parent.join(
            tc.withColumnRenamed("src", "other").withColumnRenamed(
                "dst", "reached"
            ),
            "other",
        )
        .filter(F.col("reached") == F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
