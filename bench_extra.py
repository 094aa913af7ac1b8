"""Extra benchmarks for the optimization round (bench.py is FROZEN for
measurement; this file holds the builder-side instrumentation).

Mirrors bench.py's query methodology exactly — same session config
(get_spark(cores=min(CPUS, 16))), same query list, SF_DIR and CPUS
(imported from bench.py), timing = callable construction + .count() — and
adds what §1 of the optimization guide asks
for: repeat passes (cold vs warm split), optional noop-sink isolation, and
.explain("formatted") capture per query.

Usage:
    python bench_extra.py                       # bench-order queries, 1 cold + 2 warm passes
    python bench_extra.py --queries q13_adamic_adar --repeats 5
    python bench_extra.py --explain plans/r06 --suffix _before
    python bench_extra.py --noop               # time with noop sink instead of count()
    python bench_extra.py --all                # every declared query
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from bench import BENCH_QUERIES, CPUS, SF_DIR  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", type=str, default=None,
                    help="comma-separated query names (default: bench set)")
    ap.add_argument("--all", action="store_true", help="run every declared query")
    ap.add_argument("--repeats", type=int, default=3,
                    help="total passes (first = cold, rest = warm)")
    ap.add_argument("--explain", type=str, default=None,
                    help="directory to write <query><suffix>.txt explain dumps")
    ap.add_argument("--suffix", type=str, default="",
                    help="filename suffix for --explain dumps (_before/_after)")
    ap.add_argument("--noop", action="store_true",
                    help="time via noop sink (full materialization) instead of count()")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from esgkg.session import get_spark

    spark = get_spark(cores=min(CPUS, 16), app="bench-extra")
    qs = entry_mod.queries()
    names = (
        list(qs) if args.all
        else args.queries.split(",") if args.queries
        else BENCH_QUERIES
    )

    per_query: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(args.repeats):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} pass{rep}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                n = df.count()
                assert n >= 0
            per_query[name].append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)

    if args.explain:
        out_dir = Path(args.explain)
        out_dir.mkdir(parents=True, exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (out_dir / f"{name}{args.suffix}.txt").write_text(plan)

    print(json.dumps({
        "sf": Path(SF_DIR).name,
        "cpus": CPUS,
        "mode": "noop" if args.noop else "count",
        "cold": {n: per_query[n][0] for n in names},
        "warm_min": {
            n: min(per_query[n][1:]) if len(per_query[n]) > 1 else None
            for n in names
        },
        "samples": per_query,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
