"""unfurl_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract_broadcast --seed 42 \
        --seconds 8 --trace 0

Run it from anywhere; it benchmarks the checkout it lives in (the
directory above ``perfbench/``) and writes only under that checkout's
``.bench_data/``.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.  The lines
before it give host context and a readable summary.  See README.md for
the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input size per workload (documents generated; media_decode uses the
# media table of its corpus, ~0.45 items per document).  Sized so one run
# fits well under a minute on 4 cores.
SIZES = {
    "extract_broadcast": 4000,
    "extract_join": 1000,
    "media_decode": 16000,
}
SETUPS = 3  # set-ups per run; setup_s is their median
# Untimed passes before the timed ones: the JVM keeps compiling hot paths
# for several passes after the gate, and pass times drift down until then.
WARMUP_S = 5.0

E2E_UNITS = {"rows_per_s": "row/s", "cpu_ms_per_row": "ms",
             "setup_s": "s", "worker_rss_mb": "MB"}


def layer_units(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if "_us_" in name:
        return "us"
    if name.endswith("_bytes") or "bytes_" in name:
        return "B"
    if name.endswith("_calls"):
        return "count"
    if name.endswith("_per_doc"):
        return "row/doc" if "rows" in name else "span/doc"
    return "ratio"


def host_context() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def run(args) -> dict:
    import inputs
    import spark_side as ss

    host = host_context()
    cores = min(4, host["nproc"])
    clock = time.perf_counter()
    phases = {}

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    paths = inputs.corpus(ROOT, args.seed, SIZES[args.workload])
    n_rows = inputs.n_rows(paths, args.workload)
    phase("inputs")

    setups, side_ms, files, spark, wl = [], [], [], None, None
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = ss.start_session(ROOT, cores)
            files += ss.warm_workers(spark, ROOT, cores)
            wl = ss.Workload(args.workload, spark, paths, cores)
            if args.workload == "extract_broadcast":
                side_ms.append(wl.build_side_tables() * 1e3)
            setups.append(time.perf_counter() - t0)
        outside = [f for f in files
                   if not os.path.abspath(f).startswith(ROOT + os.sep)]
        if outside:
            raise SystemExit(f"workers imported unfurl_spark from outside "
                             f"{ROOT}: {sorted(set(outside))}")
        phase("setup")

        # the gate runs first, untimed: it also warms the JIT, the worker
        # processes and their broadcast caches before the timed passes
        attempted, failed, gate = wl.check()
        phase("gate")

        t_start = time.perf_counter()
        while time.perf_counter() - t_start < WARMUP_S:
            wl.run_pass("warmup")
        phase("warmup")

        walls, cpus, labels, rss_kb = [], [], [], 0
        t_start = time.perf_counter()
        while (len(walls) < 2
               or time.perf_counter() - t_start < args.seconds):
            labels.append(f"pass-{len(walls)}")
            wall, cpu = wl.run_pass(labels[-1])
            walls.append(wall)
            cpus.append(cpu)
            rss_kb = max(rss_kb, ss.worker_hwm_kb())
        phase("passes")

        if args.trace:
            spark_layers = ss.median_of(
                ss.Rest(spark.sparkContext).pass_layers(labels, n_rows))
    finally:
        if spark is not None:
            ss.stop_session(spark)
        phase("teardown")

    host["loadavg_end"] = list(os.getloadavg())
    summary = {"workload": args.workload, "seed": args.seed,
               "rows": n_rows, "passes": len(walls),
               "pass_s": walls, "setups_s": setups, "gate": gate,
               "fail_share": failed / attempted}
    if not args.trace:
        metrics = {
            "rows_per_s": statistics.median(n_rows / w for w in walls),
            "cpu_ms_per_row": statistics.median(c * 1e3 / n_rows
                                                for c in cpus),
            "setup_s": statistics.median(setups),
            "worker_rss_mb": rss_kb / 1024,
        }
        units = E2E_UNITS
    else:
        from kernel_trace import kernel_layers

        trace_dir = os.path.join(ROOT, ".bench_data", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        metrics = {f"pipeline.{k}": v for k, v in spark_layers.items()
                   if k != "spark_coverage"}
        metrics["pipeline.side_tables_ms"] = (statistics.median(side_ms)
                                              if side_ms else 0.0)
        metrics["trace.spark_coverage"] = spark_layers["spark_coverage"]
        metrics.update(kernel_layers(
            args.workload, paths,
            os.path.join(trace_dir, f"{args.workload}_s{args.seed}.jsonl")))
        units = {k: layer_units(k) for k in metrics}
        phase("replay")

    summary["phases_s"] = phases
    print(json.dumps({"host": host}))
    print(json.dumps({"summary": summary}))
    for k, v in metrics.items():
        print(f"  {k:36s} {v:>16.6g} {units[k]}")
    print(f"  {'fail_share':36s} {failed / attempted:>16.6g} ratio")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through run()'s finally so the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "unfurl_spark", "__init__.py")):
        print(f"error: no unfurl_spark package under {ROOT}; run the "
              "benchmark from a full checkout", file=sys.stderr)
        return 2
    # this process and its Python workers import the engine from here only
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(ROOT, ".bench_data", "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ROOT, ".bench_data",
                                                  "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
