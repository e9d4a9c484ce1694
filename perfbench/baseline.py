"""Run sets of benchmark runs and summarize them into a baseline.

    python3 perfbench/baseline.py run OUT_DIR [--seeds 1-10] [--trace 0]
    python3 perfbench/baseline.py summarize A=DIR_A B=DIR_B > perfbench/baseline.json

``run`` runs every workload once per seed, one process at a time, and keeps
each run's stdout/stderr as ``<workload>-t<trace>-s<seed>.out/.err``.
``summarize`` reads the last stdout line of every run and gives, per set,
workload and metric: n, median, quartiles (``statistics.quantiles(n=4)``)
and the quartile spread as a share of the median.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def run_set(out_dir: str, seeds: list[int], trace: int, seconds: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in workloads.BENCHMARKED:
        for seed in seeds:
            stem = os.path.join(out_dir, f"{name}-t{trace}-s{seed}")
            with open(stem + ".out", "w") as out, open(stem + ".err", "w") as err:
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name]
                cmd += ["--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
                code = subprocess.run(cmd, stdout=out, stderr=err).returncode
            print(f"{name} seed {seed} exit {code}", flush=True)


def summarize(sets: dict[str, str]) -> dict:
    result = {}
    for label, directory in sets.items():
        values: dict[str, dict[str, list[float]]] = {}
        incorrect = []
        for path in sorted(glob.glob(os.path.join(directory, "*.out"))):
            name = os.path.basename(path).rsplit("-t", 1)[0]
            with open(path) as f:
                lines = f.read().strip().splitlines()
            res = json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}
            if not res["correct"]:
                incorrect.append(os.path.basename(path))
            for metric, v in res["metrics"].items():
                values.setdefault(name, {}).setdefault(metric, []).append(v["value"])
        out = {}
        for name, metrics in values.items():
            out[name] = {}
            for metric, xs in metrics.items():
                med = statistics.median(xs)
                q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
                out[name][metric] = {
                    "n": len(xs),
                    "median": med,
                    "q1": q1,
                    "q3": q3,
                    "spread": (q3 - q1) / med if med else None,
                }
        result[label] = {"dir": os.path.basename(directory.rstrip("/")), "incorrect": incorrect, "workloads": out}
    return result


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = parser.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out_dir")
    r.add_argument("--seeds", default="1-10", help="first-last")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--seconds", type=float, default=6.0)
    s = sub.add_parser("summarize")
    s.add_argument("sets", nargs="+", help="LABEL=DIR")
    args = parser.parse_args()
    if args.cmd == "run":
        first, last = (int(x) for x in args.seeds.split("-"))
        run_set(args.out_dir, list(range(first, last + 1)), args.trace, args.seconds)
    else:
        sets = dict(s.split("=", 1) for s in args.sets)
        json.dump(summarize(sets), sys.stdout, indent=1, sort_keys=True)
        print()


if __name__ == "__main__":
    main()
