"""Relation extraction (U1) and entity linking (U5/U6).

UDTF-shaped stage: one text row → many triple rows, implemented as
``mapInPandas`` over the shared kernel extractor. The extractor's compiled
regexes are built once per python worker (module-level singleton in
esgkg.kernel), not per batch — the Iterator form amortizes init.

Linking: surface → canonical concept via the broadcast alias dictionary,
falling back to a deterministic hash-embedding nearest-seed match above a
cosine threshold (the reference's dense-linker contract, SURVEY.md U5/U6;
encoder semantics per /root/reference/src/rag/graph_rag.py:70-94).

Scale: both stages are shuffle-free maps; the dictionary is broadcast once
per executor. At 10^12 rows the only hotspot is Python-worker CPU, which
scales linearly with cores — exactly what the N→4N efficiency gate measures.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session as _session

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), True),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
    ]
)


def extract_triples(text_df: DataFrame) -> DataFrame:
    """(url, text, …) → (subj, pred, obj, url, confidence) raw triples.

    confidence is 1.0 for template matches and instance_of emits (the
    deterministic extractor has no score model; the column exists for the
    D4 schema and downstream MERGE semantics)."""
    _session.ensure_shipped(text_df.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel

        for pdf in batches:
            rows = []
            for url, text in zip(pdf["url"], pdf["text"]):
                if not text:
                    continue
                for s, p, o, u in kernel.extract_triples(text, url):
                    rows.append((s, p, o, u, 1.0))
            yield pd.DataFrame(rows, columns=[f.name for f in TRIPLES_SCHEMA])

    return text_df.select("url", "text").mapInPandas(run, schema=TRIPLES_SCHEMA)


def _make_linker():
    """Surface → canonical concept name, as a plain function (call it once
    per python worker iterator). Exact/alias hits resolve via the concept
    dictionary; misses fall back to hash-embedding cosine vs the
    seed-concept matrix (≥ 0.75), else keep the original surface (it then
    flows into canonicalization). Misses are memoized per worker."""
    from esgkg import kernel, vocab

    surfaces = vocab.all_concept_surfaces()
    concepts = sorted(set(surfaces.values()))
    mat = np.stack([kernel.hash_embed(c) for c in concepts])
    cache: dict[str, str] = {}

    def link(s: str) -> str:
        hit = surfaces.get(s)
        if hit is not None:
            return hit
        hit = cache.get(s)
        if hit is None:
            sims = mat @ kernel.hash_embed(s)
            i = int(np.argmax(sims))
            hit = concepts[i] if sims[i] >= 0.75 else s
            cache[s] = hit
        return hit

    return link


NARROW_TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), True),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj", T.StringType(), True),
        T.StructField("pid", T.LongType(), True),
    ]
)


def synth_linked_narrow(spark, n: int, seed: int = 42) -> DataFrame:
    """Narrow half of the fused map chain: page synthesis → HTML→text
    extraction → triple extraction → dictionary linking in ONE Arrow pass,
    emitting (subj, pred, obj, pid). The modular stages
    (corpus.synth_pages → corpus.extract_text → extract_triples →
    link_triples) compute exactly the same rows once widened — pytest
    asserts the equivalence — but each mapInPandas hop ships the full
    corpus JVM↔python once; fusing the linear chain cuts that socket
    traffic 4x. The synthetic url and confidence columns of the full
    TRIPLES_SCHEMA are pure functions of the page id (url =
    synth.URL_PREFIX + pid, confidence = 1.0), so they are reattached by
    `widen_linked` as JVM codegen instead of crossing the Arrow boundary
    as per-row python strings (guide §2.3/§4.1: shuffle/ship keys, not
    payloads you can recompute) — ~35 bytes/row of url string stay out of
    the python→JVM transfer and out of the stored `linked_triples` table."""
    _session.ensure_shipped(spark)
    parts = spark.sparkContext.defaultParallelism
    from esgkg import synth as _synth

    n_groups = _synth.default_groups(n)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from esgkg import kernel, synth

        link = _make_linker()
        for pdf in batches:
            # column lists, not row tuples: pd.DataFrame(dict-of-lists)
            # skips the object-array transpose of the row-tuple constructor
            subs: list[str] = []
            prs: list[str] = []
            objs: list[str] = []
            pids: list[int] = []
            for i in pdf["id"]:
                ii = int(i)
                p = synth.make_page(ii, seed, n_groups)
                text = kernel.page_text(p["html"])
                for s, pr, o, _u in kernel.extract_triples(text, p["url"]):
                    subs.append(link(s))
                    prs.append(pr)
                    objs.append(link(o))
                    pids.append(ii)
            yield pd.DataFrame(
                {
                    "subj": subs,
                    "pred": prs,
                    "obj": objs,
                    "pid": np.asarray(pids, dtype=np.int64),
                }
            )

    return spark.range(0, n, numPartitions=parts).mapInPandas(
        run, schema=NARROW_TRIPLES_SCHEMA
    )


def widen_linked(narrow: DataFrame) -> DataFrame:
    """(subj, pred, obj, pid) → full TRIPLES_SCHEMA rows. url/confidence are
    deterministic functions of pid (see synth.make_page), built as JVM
    concat/lit — byte-identical to the python f-string for any non-negative
    id (cast(long as string) is plain decimal)."""
    from esgkg import synth as _synth

    return narrow.select(
        "subj",
        "pred",
        "obj",
        F.concat(
            F.lit(_synth.URL_PREFIX), F.col("pid").cast("string")
        ).alias("url"),
        F.lit(1.0).alias("confidence"),
    )


def link_triples(triples: DataFrame) -> DataFrame:
    """Canonicalize subj and obj of raw triples against the concept
    dictionary in one Arrow pass (single python-worker stage)."""
    _session.ensure_shipped(triples.sparkSession)
    schema = triples.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        link = _make_linker()
        for pdf in batches:
            pdf = pdf.copy()
            for col in ("subj", "obj"):
                pdf[col] = [link(s) if isinstance(s, str) else s
                            for s in pdf[col]]
            yield pdf

    return triples.mapInPandas(run, schema=schema)
