"""Run one workload once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload batch --seeds 1-10 [--out FILE]
    python3 perfbench/spread.py --compare FIRST.json SECOND.json

The spread is the distance between the first and third quartile of the
runs' values (`statistics.quantiles(values, n=4)`) as a share of their
median, the statistic `BENCHMARK.json`'s bounds are checked against.
`--compare` takes two `--out` files of the same workload and reports, per
metric, how much worse the second set's median is than the first's as a
share of the first, next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def compare(path_a: str, path_b: str) -> int:
    """0 if no median of the second set is worse than the first's by more
    than the metric's bound."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    docs = []
    for p in (path_a, path_b):
        with open(p) as fh:
            docs.append(json.load(fh))
    worst = 0
    for name, m in spec.items():
        a, b = (d["summary"][name]["median"] for d in docs)
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        ok = worse <= m["bound"]
        worst += not ok
        print(f"{name}: {a:.6g} -> {b:.6g} worse by {worse:+.3f} "
              f"(bound {m['bound']}) {'ok' if ok else 'OUT OF BOUND'}")
    return 1 if worst else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 1-10")
    ap.add_argument("--seconds", help="default: BENCHMARK.json's run_seconds")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    if not (args.workload and args.seeds):
        ap.error("--workload and --seeds are required")
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            args.seconds = str(json.load(fh)["run_seconds"])
    runs = []
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        result["seed"], result["run_s"] = seed, time.perf_counter() - t
        result["provenance"] = json.loads(lines[-2].split(" ", 1)[1])
        runs.append(result)
        print(json.dumps(result), flush=True)
    summary = {}
    # the metrics, then the unscaled times the provenance keeps
    for name in [*runs[0]["metrics"], "wall_setup_s", "wall_pass_s"]:
        vals = [r["metrics"][name]["value"] if name in r["metrics"]
                else r["provenance"][name] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        summary[name] = {"median": med, "spread": (q3 - q1) / med if med else 0.0}
        print(f"{name}: median {med:.6g} spread {summary[name]['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary},
                      fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
