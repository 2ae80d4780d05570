#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and spread (interquartile range over median) per workload, next to
the bound in BENCHMARK.json.

    python3 bench/spread.py --seeds 1-10 [--workload rag_serve] [--out runs.jsonl]

Run it from the repository root. Each run's record, host and result lines are
appended to --out when given.
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    names = a.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for wl in names:
        values = {m: [] for m in bounds}
        for seed in seeds(a.seeds):
            cmd = [sys.executable, "bench/run.py", "--workload", wl,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", "0"]
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {p.returncode}", file=sys.stderr)
                print(p.stderr[-2000:], file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            if a.out:
                with open(a.out, "a") as fh:
                    for ln in lines[-3:]:
                        fh.write(json.dumps({"workload": wl, "seed": seed,
                                             **json.loads(ln)}) + "\n")
            for m, v in res["metrics"].items():
                values[m].append(v["value"])
            print(f"{wl} seed {seed}: correct={res['correct']} " +
                  " ".join(f"{m}={v['value']:.4g}"
                           for m, v in sorted(res["metrics"].items())),
                  flush=True)
        for m, vs in values.items():
            if len(vs) < 2:
                continue
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            spread = (q[2] - q[0]) / med if med else 0.0
            print(f"{wl} {m}: median {med:.4g} spread {spread:.3f} "
                  f"bound {bounds[m]} ({spread / bounds[m]:.2f} of bound)")


if __name__ == "__main__":
    main()
