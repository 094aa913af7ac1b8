"""One benchmark workload in one Spark session, driven in a closed loop from
this process (one build at a time). Started by ``run.py``; writes its result
as JSON to ``--out``.

Workloads:

* ``kg_build`` — bench-mode ``pipeline.build_kg`` at ``PAGES["kg_build"]``
  pages, then a count of linked_triples, edges and predicted_links.
* ``kg_resume`` — manifest-mode ``build_kg`` into a fresh catalog with every
  output forced, then a second ``build_kg`` over the same catalog that must
  resume every stage.

Set-up is the single-threaded kernel baseline with the oracle sample, then
the session start. The timed operation runs in the fresh JVM, as ``python -m
esgkg`` runs a build once per process: no warm-up build, so a run costs one
cold build and the whole set of runs fits its time budget. With ``--trace
1`` the operation runs once, traced instead of timed: spans around the calls
into each layer, and Spark's event log folded into per-span rows.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
import traceback
from functools import reduce
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import ledger  # noqa: E402

PAGES = {"kg_build": 20_000, "kg_resume": 200}
KERNEL_SAMPLE = 2_000
TOP_K = 10
HUB_CAP = 1000  # complete.adamic_adar's default max_degree
# the manifest-mode outputs of build_kg; "pages" is a lazy synth view
RESUME_TABLES = ("text", "raw_triples", "linked_triples", "canon_map",
                 "triples", "nodes", "edges", "predicted_links")


class Ops:
    """Counts operations (timed units and output checks) and failures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)
        return ok

    def run(self, name: str, fn):
        """Run one timed unit; a raise counts as a failure and yields None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.failures.append(name)
            traceback.print_exc()
            return None


# -- kernel baseline and oracle sample ---------------------------------------

def make_linker():
    """The dictionary + dense linking the fused map applies to every
    extracted surface (nlp.synth_linked_narrow), as a plain function."""
    import numpy as np

    from esgkg import kernel, vocab

    surfaces = vocab.all_concept_surfaces()
    concepts = sorted(set(surfaces.values()))
    mat = np.stack([kernel.hash_embed(c) for c in concepts])
    cache: dict[str, str] = {}

    def link(s: str) -> str:
        hit = surfaces.get(s)
        if hit is None:
            hit = cache.get(s)
        if hit is None:
            sims = mat @ kernel.hash_embed(s)
            i = int(np.argmax(sims))
            hit = concepts[i] if sims[i] >= 0.75 else s
            cache[s] = hit
        return hit

    return link


def kernel_baseline(n_pages: int, seed: int) -> tuple[dict, dict[str, list]]:
    """Single-threaded synth → page_text → extract_triples over the first
    ``KERNEL_SAMPLE`` pages of the workload. Returns the per-stage
    µs/page and the oracle's linked triples per sampled url (the sequential
    reference of esgkg.oracle.gold_triples, restricted to the sample)."""
    from esgkg import kernel, synth

    n_groups = synth.default_groups(n_pages)
    # a contiguous block, like the page range one map task streams through
    ids = range(min(KERNEL_SAMPLE, n_pages))
    link = make_linker()
    # the first call builds the extractor's automata; keep it out of the
    # per-page figures
    kernel.extract_triples(kernel.page_text(synth.make_page(
        n_pages, seed, n_groups)["html"]), "")
    t_synth = t_text = t_extract = 0.0
    gold: dict[str, list] = {}
    n_triples = 0
    for i in ids:
        t0 = time.perf_counter()
        p = synth.make_page(i, seed, n_groups)
        t1 = time.perf_counter()
        text = kernel.page_text(p["html"])
        t2 = time.perf_counter()
        triples = kernel.extract_triples(text, p["url"])
        t3 = time.perf_counter()
        t_synth += t1 - t0
        t_text += t2 - t1
        t_extract += t3 - t2
        n_triples += len(triples)
        gold[p["url"]] = sorted((link(s), pr, link(o)) for s, pr, o, _ in triples)
    n = len(ids)
    return {
        "kernel.synth_us_per_page": t_synth / n * 1e6,
        "kernel.page_text_us_per_page": t_text / n * 1e6,
        "kernel.extract_us_per_page": t_extract / n * 1e6,
        "kernel.triples_per_page": n_triples / n,
    }, gold


def sample_matches(linked, gold: dict[str, list], corrupt: bool) -> bool:
    from pyspark.sql import functions as F

    got: dict[str, list] = {u: [] for u in gold}
    for r in linked.filter(F.col("url").isin(list(gold))).select(
        "subj", "pred", "obj", "url"
    ).collect():
        got[r.url].append((r.subj, r.pred, r.obj))
    if corrupt:
        url = next(u for u, rows in got.items() if rows)
        got[url].pop()
    return all(sorted(got[u]) == rows for u, rows in gold.items())


def digests(out: dict, names) -> dict[str, tuple[int, int]]:
    """name -> (row count, order-independent sum of row hashes) for every
    named table, in one Spark job that reads each table in full."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    parts = [
        out[n].select(
            F.lit(n).alias("t"),
            F.pmod(F.xxhash64(F.to_json(F.struct(*out[n].columns))),
                   F.lit(1 << 40)).alias("h"))
        for n in names
    ]
    rows = reduce(DataFrame.unionByName, parts).groupBy("t").agg(
        F.count("*").alias("n"), F.sum("h").alias("h")).collect()
    got = {r.t: (int(r.n), int(r.h or 0)) for r in rows}
    return {n: got.get(n, (0, 0)) for n in names}


# -- workloads ----------------------------------------------------------------

class Workload:
    def __init__(self, spark, args, ops: Ops, kernel: dict,
                 gold: dict[str, list]) -> None:
        self.spark = spark
        self.args = args
        self.run_dir = args.run_dir
        self.ops = ops
        self.n_pages = n_pages(args)
        self.kernel = kernel
        self.gold = gold
        self.detail: dict = {}


def n_pages(args) -> int:
    return args.pages or PAGES[args.workload]


class KgBuild(Workload):
    def check(self, linked, n_edges, n_links) -> None:
        self.ops.check(
            "oracle_sample",
            sample_matches(linked, self.gold, self.args.corrupt),
        )
        self.ops.check("non_empty_graph", bool(n_edges) and bool(n_links))

    def op(self, k: int) -> tuple[float, int]:
        """One bench-mode build with its outputs forced. Later repetitions
        take a derived seed: build_kg memoizes (n_pages, seed)."""
        from esgkg import pipeline

        seed = self.args.seed if k == 0 else self.args.seed * 1000 + k
        t0 = time.perf_counter()
        out = self.ops.run(
            "build", lambda: pipeline.build_kg(self.spark, self.n_pages, seed,
                                               top_k=TOP_K))
        counts = {
            name: self.ops.run(f"count:{name}", out[name].count)
            if out is not None else None
            for name in ("linked_triples", "edges", "predicted_links")
        }
        wall = time.perf_counter() - t0
        if k == 0 and out is not None:
            self.check(out["linked_triples"], counts["edges"],
                       counts["predicted_links"])
        self.detail.setdefault("counts", counts)
        return wall, counts["linked_triples"] or 0

    def traced_op(self, tr: ledger.Tracer) -> dict:
        """build_kg's bench-mode stage order, one public stage call per
        span, each forced inside its span (nodes and edges run one after
        the other here, not on two threads). The ``diag`` span holds the
        diagnostics and the output checks; its jobs are not the layers'."""
        from pyspark.sql import functions as F

        from esgkg import vocab
        from esgkg.stages import canon, complete, graph, nlp

        spark, n, seed = self.spark, self.n_pages, self.args.seed
        scratch = self.run_dir / "trace-scratch"
        protected = sorted(set(vocab.all_concept_surfaces().values())) + [
            "Organization"
        ]
        with tr.span("map") as c:
            path = str(scratch / "linked")
            nlp.synth_linked_narrow(spark, n, seed).write.mode(
                "overwrite").parquet(path)
            linked = nlp.widen_linked(spark.read.parquet(path))
            c["rows_out"] = linked.count()
        with tr.span("surface_stats") as c:
            stats = graph.surface_stats(linked).localCheckpoint(eager=True)
            c["rows_out"] = stats.count()
        with tr.span("canon") as c:
            cmap = canon.canonical_map(
                stats.select(F.col("name").alias("surface")),
                exclude_exact=protected,
                assume_distinct=True,
            ).localCheckpoint(eager=True)
            triples = canon.rewrite_triples(linked, cmap)
        with tr.span("nodes"):
            nodes = graph.materialize_nodes_from_stats(stats, cmap, spark)
        with tr.span("edges") as c:
            path = str(scratch / "edges")
            graph.materialize_edges(triples, spark, assume_closed=True).write.mode(
                "overwrite").parquet(path)
            edges = spark.read.parquet(path)
            c["rows_out"] = edges.count()
        with tr.span("aa") as c:
            links = complete.adamic_adar(edges, TOP_K).localCheckpoint(eager=True)
            c["links_out"] = links.count()
        with tr.span("diag"):
            und = complete.undirected(edges)
            deg = und.groupBy("a").count()
            diag = {
                "surfaces_in": stats.count(),
                "merged": cmap.filter(F.col("surface") != F.col("canonical")).count(),
                "linked_nodes": deg.count(),
                "hub_nodes": deg.filter(F.col("count") > HUB_CAP).count(),
                "sources": links.select("src").distinct().count(),
            }
            self.check(linked, counts_of(tr, "edges")["rows_out"],
                       counts_of(tr, "aa")["links_out"])
        return diag

    def layer_metrics(self, tr: ledger.Tracer, rows: dict, diag: dict,
                      cores: int) -> dict:
        def r(g: str) -> dict:
            return rows.get(g, {})

        map_wall = tr.total("map")
        kernel_us = sum(self.kernel[k] for k in (
            "kernel.synth_us_per_page", "kernel.page_text_us_per_page",
            "kernel.extract_us_per_page"))
        return {
            "map.wall_s": map_wall,
            "map.task_s": r("map").get("task_s", 0.0),
            "map.gc_s": r("map").get("gc_s", 0.0),
            "map.rows_out": counts_of(tr, "map")["rows_out"],
            "map.write_mb": r("map").get("write_mb", 0.0),
            "map.kernel_share": self.n_pages * kernel_us * 1e-6
            / (cores * map_wall),
            "surface_stats.wall_s": tr.total("surface_stats"),
            "surface_stats.shuffle_write_mb":
                r("surface_stats").get("shuffle_write_mb", 0.0),
            "surface_stats.rows_out": counts_of(tr, "surface_stats")["rows_out"],
            "canon.wall_s": tr.total("canon"),
            "canon.task_s": r("canon").get("task_s", 0.0),
            "canon.shuffle_write_mb": r("canon").get("shuffle_write_mb", 0.0),
            "canon.surfaces_in": diag["surfaces_in"],
            "canon.merged_frac": diag["merged"] / max(diag["surfaces_in"], 1),
            "nodes.wall_s": tr.total("nodes"),
            "edges.wall_s": tr.total("edges"),
            "edges.shuffle_write_mb": r("edges").get("shuffle_write_mb", 0.0),
            "edges.spill_mb": r("edges").get("spill_mb", 0.0),
            "edges.rows_out": counts_of(tr, "edges")["rows_out"],
            "aa.wall_s": tr.total("aa"),
            "aa.task_s": r("aa").get("task_s", 0.0),
            "aa.shuffle_write_mb": r("aa").get("shuffle_write_mb", 0.0),
            "aa.links_out": counts_of(tr, "aa")["links_out"],
            "aa.sources_linked_frac":
                diag["sources"] / max(diag["linked_nodes"], 1),
            "aa.hub_nodes": diag["hub_nodes"],
        }


class KgResume(Workload):
    def _build_twice(self, catalog: Path, seed: int) -> dict:
        """Clean manifest-mode build, then a resuming build over the same
        catalog; every output of each is forced by its (count, digest)."""
        from esgkg import pipeline

        def forced(tag: str) -> dict:
            out = self.ops.run(
                tag, lambda: pipeline.build_kg(self.spark, self.n_pages, seed,
                                               base_dir=str(catalog),
                                               top_k=TOP_K))
            sums = self.ops.run(
                f"{tag}:digest", lambda: digests(out, RESUME_TABLES)
            ) if out is not None else None
            return sums or dict.fromkeys(RESUME_TABLES)

        shutil.rmtree(catalog, ignore_errors=True)
        t0 = time.perf_counter()
        clean = forced("clean")
        t1 = time.perf_counter()
        catalog_mb = sum(
            f.stat().st_size for f in catalog.rglob("*") if f.is_file()
        ) / 2**20
        t2 = time.perf_counter()
        resumed = forced("resume")
        t3 = time.perf_counter()
        return {"clean": clean, "resumed": resumed, "clean_s": t1 - t0,
                "resume_s": t3 - t2, "catalog_mb": catalog_mb,
                "clean_end": t1}

    def _commits_per_stage(self, catalog: Path) -> dict[str, int]:
        from esgkg.stages import manifest

        m = self.spark.read.parquet(str(catalog / manifest.MANIFEST))
        return {r["stage"]: r["count"] for r in m.groupBy("stage").count().collect()}

    def check(self, res: dict, catalog: Path) -> None:
        """The resumed outputs equal the clean ones, no stage re-ran, and
        the graph is not empty."""
        clean, resumed = res["clean"], res["resumed"]
        if self.args.corrupt and resumed["linked_triples"] is not None:
            n, h = resumed["linked_triples"]
            resumed["linked_triples"] = (n - 1, h)
        for name in RESUME_TABLES:
            self.ops.check(
                f"resume_equal:{name}",
                clean[name] is not None and clean[name] == resumed[name],
            )
        commits = self._commits_per_stage(catalog)
        self.ops.check(
            "no_stage_rerun",
            set(commits) >= set(RESUME_TABLES)
            and all(c == 1 for c in commits.values()),
        )
        self.ops.check(
            "non_empty_graph",
            all(clean[n] and clean[n][0] > 0 for n in ("edges", "predicted_links")),
        )
        self.detail.setdefault("clean", clean)
        self.detail.setdefault("catalog_mb", res["catalog_mb"])

    def op(self, k: int) -> tuple[float, int]:
        catalog = self.run_dir / f"catalog-{k}"
        res = self._build_twice(catalog, self.args.seed)
        self.check(res, catalog)
        shutil.rmtree(catalog, ignore_errors=True)
        linked = res["clean"]["linked_triples"]
        return res["clean_s"] + res["resume_s"], linked[0] if linked else 0

    def traced_op(self, tr: ledger.Tracer) -> dict:
        """One clean + resume with manifest.Runner.run_stage and
        io.ParquetCatalog.write/read wrapped in spans."""
        from esgkg import io
        from esgkg.stages import manifest

        run_stage = manifest.Runner.run_stage
        write, read = io.ParquetCatalog.write, io.ParquetCatalog.read
        produced: list[float] = []  # when a stage's producer ran

        def traced_run_stage(self_, stage, fingerprint, produce, *a, **kw):
            def traced_produce():
                produced.append(time.perf_counter())
                return produce()

            with tr.span("stage:" + stage):
                return run_stage(self_, stage, fingerprint, traced_produce, *a, **kw)

        def traced_write(self_, *a, **kw):
            with tr.span("io.write", label_jobs=False):
                return write(self_, *a, **kw)

        def traced_read(self_, *a, **kw):
            with tr.span("io.read", label_jobs=False):
                return read(self_, *a, **kw)

        catalog = self.run_dir / "catalog-trace"
        manifest.Runner.run_stage = traced_run_stage
        io.ParquetCatalog.write = traced_write
        io.ParquetCatalog.read = traced_read
        try:
            with tr.span("resume_op"):
                res = self._build_twice(catalog, self.args.seed)
        finally:
            manifest.Runner.run_stage = run_stage
            io.ParquetCatalog.write, io.ParquetCatalog.read = write, read
        with tr.span("diag"):
            self.check(res, catalog)
        split = res["clean_end"]
        calls = [s for s in tr.spans
                 if s["name"].startswith("stage:") and s["start"] > split]
        return {
            "catalog_mb": res["catalog_mb"],
            "resume_s": res["resume_s"],
            "resume_attempted": len(calls),
            "resume_produced": sum(1 for t in produced if t > split),
        }

    def layer_metrics(self, tr: ledger.Tracer, rows: dict, diag: dict,
                      cores: int) -> dict:
        attempted = diag["resume_attempted"]
        return {
            "manifest.run_stage_s": sum(
                s["end"] - s["start"] for s in tr.spans
                if s["name"].startswith("stage:")),
            "manifest.write_s": tr.total("io.write"),
            "manifest.read_s": tr.total("io.read"),
            "manifest.resumed_frac":
                (attempted - diag["resume_produced"]) / max(attempted, 1),
            "manifest.resume_s": diag["resume_s"],
            "io.write_mb": sum(v["write_mb"] for g, v in rows.items()
                               if g.startswith("stage:")),
            "io.catalog_mb": diag["catalog_mb"],
        }


WORKLOADS = {"kg_build": KgBuild, "kg_resume": KgResume}


def counts_of(tr: ledger.Tracer, name: str) -> dict:
    """What the caller recorded in the span ``name``."""
    return next(s["counts"] for s in tr.spans if s["name"] == name)


def spark_conf(run_dir: Path, trace: bool) -> dict[str, str]:
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": str(run_dir / "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": log_dir.as_uri(),
        })
    return conf


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--run-dir", type=Path, required=True)
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--pages", type=int, default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from esgkg.session import get_spark

    # before the JVM starts, so that nothing else runs beside the kernel
    kernel, gold = kernel_baseline(n_pages(args), args.seed)
    t0 = time.perf_counter()
    spark = get_spark(cores=args.cores, app=f"perfbench-{args.workload}",
                      extra=spark_conf(args.run_dir, bool(args.trace)))
    session_start_s = time.perf_counter() - t0
    ops = Ops()
    wl = WORKLOADS[args.workload](spark, args, ops, kernel, gold)

    timed_start = time.time()
    t_loop = time.perf_counter()
    walls: list[float] = []
    triples: list[int] = []
    layers: dict = {}
    if not args.trace:
        # the first operation is the cold one; each outlasts --seconds at
        # the workload sizes, so a run times exactly one
        while not walls or time.perf_counter() - t_loop < args.seconds:
            wall, n = wl.op(len(walls))
            walls.append(wall)
            triples.append(n)
    else:
        # the same cold operation, traced instead of timed
        tr = ledger.Tracer(spark.sparkContext)
        diag = wl.traced_op(tr)
        wl.detail["traced_wall_s"] = time.perf_counter() - t_loop - tr.total("diag")
    timed_s = time.perf_counter() - t_loop
    spark.stop()

    if args.trace:
        rows = ledger.fold_event_log(args.run_dir / "eventlog")
        op_rows = [v for g, v in rows.items() if g != "diag"]
        layers = {
            "session.start_s": session_start_s,
            **wl.kernel,
            **wl.layer_metrics(tr, rows, diag, args.cores),
            "spark.jobs": sum(v["jobs"] for v in op_rows),
            "spark.task_s": sum(v["task_s"] for v in op_rows),
            "spark.gc_s": sum(v["gc_s"] for v in op_rows),
            "spark.shuffle_write_mb": sum(v["shuffle_write_mb"] for v in op_rows),
            "spark.spill_mb": sum(v["spill_mb"] for v in op_rows),
            "trace.overhead_s": tr.overhead_s,
        }
        wl.detail["ledger"] = rows
        wl.detail["spans"] = [
            {**s, "start": s["start"] - t_loop, "end": s["end"] - t_loop}
            for s in tr.spans
        ]

    result = {
        "timed_start": timed_start,
        "timed_s": timed_s,
        "walls": walls,
        "triples": triples,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "failures": ops.failures,
        "layers": layers,
        "detail": {**wl.detail, "kernel": wl.kernel},
    }
    args.out.write_text(json.dumps(result, default=str))


if __name__ == "__main__":
    main()
