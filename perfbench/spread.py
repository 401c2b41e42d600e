"""Run-to-run spread of the benchmark.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds S] [--trace 0|1]

Runs the workload once per seed, then prints, for every metric of the
result line, its median and the distance between the first and third
quartiles (statistics.quantiles, n=4) as a share of the median — the
spread to compare with a metric's bound in BENCHMARK.json. Failed runs are
reported and left out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            a.seconds = json.load(f)["run_seconds"]
    values = {}
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(a.seconds), "--trace", a.trace],
                           stdout=subprocess.PIPE, text=True)
        try:
            r = json.loads(p.stdout.strip().split("\n")[-1])
        except (ValueError, IndexError):
            r = None
        if p.returncode != 0 or r is None or not r["correct"]:
            print(f"seed {s}: failed (exit {p.returncode})")
            continue
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {s}: " + " ".join(f"{k}={m['value']:.4g}"
                                       for k, m in r["metrics"].items()))
    for k, v in values.items():
        med = statistics.median(v)
        if len(v) < 2 or med == 0:
            print(f"{k:32s} n={len(v)} median={med:.6g}")
            continue
        q1, _, q3 = statistics.quantiles(v, n=4)
        print(f"{k:32s} n={len(v)} median={med:.6g} spread={(q3 - q1) / abs(med):.4f}")


if __name__ == "__main__":
    main()
