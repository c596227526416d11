"""Tracing overhead: traced median minus untraced median of every
end-to-end metric, per workload, over the same seeds.

    python3 perfbench/overhead.py --seeds 1 2 3 [--workloads interactive_read]

Run from the repository root. The traced run's end-to-end values come from
its span dump (``.bench_out/trace-<workload>-<seed>.json``). Also prints each
metric's spread over the seeds, traced and untraced (IQR / median, from
``statistics.quantiles(n=4)``), and writes every value to
``.bench_out/overhead-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(xs: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    names = [x["name"] for x in bench["end_to_end"]]
    for w in args.workloads:
        plain = {k: [] for k in names}
        traced = {k: [] for k in names}
        for seed in args.seeds:
            for trace in (0, 1):
                out = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                     "--seconds", str(bench["run_seconds"]), "--trace", str(trace)],
                    cwd=ROOT, capture_output=True, text=True, check=True)
                if trace:
                    with open(os.path.join(ROOT, ".bench_out", f"trace-{w}-{seed}.json")) as f:
                        e2e = json.load(f)["end_to_end"]
                    for k in names:
                        traced[k].append(e2e[k])
                else:
                    res = json.loads(out.stdout.strip().splitlines()[-1])
                    for k in names:
                        plain[k].append(res["metrics"][k]["value"])
        with open(os.path.join(ROOT, ".bench_out", f"overhead-{w}.json"), "w") as f:
            json.dump({"seeds": args.seeds, "untraced": plain, "traced": traced}, f)
        for k in names:
            p, t = statistics.median(plain[k]), statistics.median(traced[k])
            print(f"{w:18s} {k:22s} untraced {p:12.3f} traced {t:12.3f} "
                  f"overhead {t - p:+12.3f} ({(t - p) / p:+.1%}) "
                  f"spread {spread(plain[k]):.3f} / {spread(traced[k]):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
