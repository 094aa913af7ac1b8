"""Repository benchmark: one workload per call, in a fresh Spark JVM.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The Spark worker (perfbench/worker.py) runs in
its own process session at local[nproc] with a driver heap sized from
/proc/meminfo; this process samples the RSS of that session, waits until
every process of it has ended and prints, as its last line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace
0`` the metrics are BENCHMARK.json's end-to-end metrics, with ``--trace 1``
its per-layer metrics. A line before it records the host (nproc, loadavg,
free memory) and the raw per-operation figures; the same record is kept
under .perfbench_run/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import procs  # noqa: E402

RUN_DIR = ROOT / ".perfbench_run"
DEADLINE_S = 170.0  # a run must end within 180 s
RSS_EVERY_S = 0.25


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: a smaller corpus, and one output corrupted on purpose
    ap.add_argument("--pages", type=int, default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"unknown workload {args.workload!r}")
    if not (ROOT / "esgkg" / "pipeline.py").is_file():
        sys.exit(f"no esgkg package under {ROOT}: nothing to benchmark")

    procs.become_subreaper()
    swept = procs.sweep_dead(RUN_DIR, r"(\d+)") + procs.sweep_dead(
        Path("/dev/shm"), r"esgkg-bench-(\d+)")
    run_dir = RUN_DIR / str(os.getpid())
    run_dir.mkdir(parents=True)
    out = run_dir / "result.json"
    host_before = procs.host_snapshot()
    cores = procs.nproc()
    env = dict(
        os.environ,
        ESGKG_DRIVER_MEM=procs.driver_mem(),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=str(run_dir / "tmp"),
    )
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--run-dir", str(run_dir), "--out", str(out),
        "--pages", str(args.pages), "--corrupt", str(args.corrupt),
    ]
    # the worker's stdout joins stderr: this process owns the last stdout line
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr,
                            start_new_session=True)
    peak = {"total": 0.0, "jvm": 0.0, "python": 0.0}
    try:
        while proc.poll() is None:
            rss = procs.session_rss_mb(proc.pid)
            rss["total"] = rss["jvm"] + rss["python"]
            peak = {k: max(v, rss[k]) for k, v in peak.items()}
            if time.time() - t0 > DEADLINE_S:
                proc.kill()
                proc.wait()
                break
            time.sleep(RSS_EVERY_S)
    finally:
        # the JVM and the python workers outlive the worker by a moment
        procs.drain_session(proc.pid, grace_s=5.0)
    if proc.returncode != 0 or not out.is_file():
        sys.exit(f"worker failed with exit code {proc.returncode}")
    res = json.loads(out.read_text())

    if args.trace:
        declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = set(res["layers"]) - set(declared)
        if unknown:
            sys.exit(f"undeclared per-layer metrics: {sorted(unknown)}")
        # a layer the workload does not run reads 0
        layers = {**res["layers"], "mem.peak_rss_mb": peak["total"],
                  "mem.jvm_peak_rss_mb": peak["jvm"],
                  "mem.python_peak_rss_mb": peak["python"]}
        values = {name: layers.get(name, 0.0) for name in declared}
    else:
        declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {
            "setup_s": res["timed_start"] - t0,
            "wall_s": statistics.median(res["walls"]),
            "triples_per_s": statistics.median(
                n / w for n, w in zip(res["triples"], res["walls"])),
        }
    metrics = {
        name: {"value": float(values[name]), "unit": unit}
        for name, unit in declared.items()
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "pages": args.pages, "cores": cores,
        "driver_mem": env["ESGKG_DRIVER_MEM"], "host_before": host_before,
        "host_after": procs.host_snapshot(), "swept": swept,
        "walls": res["walls"], "timed_s": res["timed_s"], "peak_rss_mb": peak,
        "failures": res["failures"], "detail": res["detail"],
    }
    final = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    results = RUN_DIR / "results"
    results.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(t0))
    (results / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json").write_text(
        json.dumps({**record, "result": final}, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
