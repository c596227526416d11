"""End-to-end benchmark of the stored engine and its RPC service.

    python3 perfbench/run.py --workload interactive_read --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds a fresh store from the seed, drives the
workload's closed loop over the HTTP service on loopback, checks every
answer against the seeded model, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is the traced run that
reports the per-layer metrics and writes its spans under ``.bench_out/``.
All scratch state lives under ``.bench_work/`` and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [
    ("setup_s", "s"), ("raw_p50_ms", "ms"), ("stat_p50_ms", "ms"), ("ops_per_s", "1/s"),
    ("store_bytes_per_pt", "B"), ("rss_peak_mb", "MB"),
]


def _env(work: str, cores: int) -> None:
    """Size Spark for this box and keep every scratch file in the work dir;
    must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("BTRDB_SPARK_DRIVER_MEM", "1g")
    os.environ["BTRDB_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=float, default=1.0,
                    help="store size factor; below 1 is the self-test's tiny store")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "btrdb_spark")):
        print(f"perfbench: no btrdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS  # noqa: E402  (needs the paths above)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, cores)

    from harness import Run, median

    try:
        run = Run(work, args.seed, bool(args.trace), cores, T_START)
        try:
            wall = WORKLOADS[args.workload](run, args.seconds, args.size)
            timed = (run.t_timed, run.t_timed + wall, wall)
            storage = run.storage()
        finally:
            run.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lat = run.lat
    n_ops = sum(len(v) for v in lat.values())
    e2e = {
        "setup_s": run.setup_s,
        "raw_p50_ms": median(lat["raw"]) if lat.get("raw") else None,
        "stat_p50_ms": median(lat["stat"]) if lat.get("stat") else None,
        "ops_per_s": n_ops / timed[2],
        "store_bytes_per_pt": storage["store_bytes_per_pt"],
        "rss_peak_mb": run.rss.peak_kb / 1024,
    }
    if args.trace:
        from spans import per_layer_names

        values = run.tracer.metrics(timed[:2], cores, (run.client.rows_seen, run.client.bytes_seen),
                                    storage)
        units = dict(per_layer_names())
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        run.tracer.dump(
            os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
             "per_layer": values, "samples": {k: len(v) for k, v in lat.items()}})
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    else:
        units = dict(END_TO_END)
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}

    for why in run.failures[:20]:
        print(f"perfbench: FAILED {why}", file=sys.stderr)
    print(f"perfbench: latencies ms {json.dumps({k: [round(x) for x in v] for k, v in lat.items()})}",
          file=sys.stderr)
    print(f"perfbench: rss peak kB by process {json.dumps(run.rss.peak_parts)}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures and all(v["value"] is not None for v in metrics.values()),
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
