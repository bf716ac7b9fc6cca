"""Run the benchmark on several seeds and summarise each metric: median,
quartiles (statistics.quantiles(values, n=4)) and the quartile spread as a
share of the median.

    python3 perfbench/repeat.py --workload serve --seeds 1-10 [--trace 1] [--out runs.jsonl]

Each run measures for BENCHMARK.json's run_seconds. Each run's result line
(and its info line) is appended to --out when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    values = {}
    for seed in seeds(a.seeds):
        r = subprocess.run([sys.executable, RUN, "--workload", a.workload, "--seed", str(seed),
                            "--trace", a.trace],
                           stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, "result": res,
                                    "info": json.loads(lines[-2])["info"]}) + "\n")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              file=sys.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(json.dumps({"metric": k, "n": len(vs), "median": med, "q1": q1, "q3": q3,
                          "spread": spread}))


if __name__ == "__main__":
    main()
