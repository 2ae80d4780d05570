#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, with the gain and regression
verdicts for every end-to-end metric.

    python3 dev/bench_pairs.py --parent DIR --change DIR \
        --workload sales_landing --seeds 31-40 [--confirm 41-50] \
        [--out pairs.jsonl]

DIR is a checkout of each commit (for example `git archive HEAD | tar -x
-C DIR`). For each seed, `bench/run.py --trace 0` runs once in each
checkout, with the run length BENCHMARK.json fixes; the side that runs
first alternates from seed to seed. Nothing is written under either
checkout's `bench/`; each checkout's own `.bench_build/` caches its build.

For each metric it prints both sides' median and quartiles, the change's
wins over the pairs (ties count for neither side) and two verdicts:
  gain:  the change wins at least 9/10 of the pairs AND its median is
         better than the parent's by more than the parent's interquartile
         range AND no more of its runs failed or were incorrect than the
         parent's;
  bound: "ok" when the change's median is no worse than the parent's by
         more than the metric's bound (a fraction of the parent median),
         "WORSE" when it is, and "unresolved" when the parent's own spread
         (IQR / median) is wider than the bound, unless every change run
         is better than every parent run.
A pair where either run failed or reported correct=false is dropped from
the medians, wins and verdicts, and counted as a failure of that side.

--confirm runs a second seed range after the first. One range can pass
the gain rule on drift between runs, so with --confirm "gain yes" needs
the rule to pass on each range alone; the wins column then reads
"<first range> + <confirm range>". Medians, quartiles and the bound
verdict are over the pairs of both ranges.
--out appends one JSON line per run (side, seed, order, result).
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds):
    """The result line of one untraced run in `checkout`, or None."""
    cmd = [sys.executable, "bench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {checkout} seed {seed}: exit {p.returncode}\n"
              f"{p.stderr[-2000:]}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0]
    q = statistics.quantiles(vs, n=4)
    return q[0], q[2]


def better(a, b, direction):
    """True when b is better than a in `direction`."""
    return b < a if direction == "lower" else b > a


def verdicts(pv, cv, direction, bound):
    pm, cm = statistics.median(pv), statistics.median(cv)
    pq1, pq3 = quartiles(pv)
    iqr = pq3 - pq1
    pairs = len(pv)
    wins = sum(better(p, c, direction) for p, c in zip(pv, cv))
    shift = (pm - cm) if direction == "lower" else (cm - pm)
    gain = wins >= math.ceil(0.9 * pairs) and shift > iqr
    worse_by = -shift / pm if pm else 0.0
    if pm and iqr / abs(pm) > bound and not all(
            better(p, c, direction) for p in pv for c in cv):
        limit = "unresolved"
    else:
        limit = "WORSE" if worse_by > bound else "ok"
    return pm, cm, wins, gain, limit


def run_pairs(a, spec, metrics, seed_list):
    """Per side, each metric's values over the kept pairs, and the count of
    failed or incorrect runs."""
    sides = {"parent": a.parent, "change": a.change}
    values = {s: {m: [] for m in metrics} for s in sides}
    failed = {s: 0 for s in sides}
    for i, seed in enumerate(seed_list):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        res = {s: run(sides[s], a.workload, seed, spec["run_seconds"])
               for s in order}
        for s in order:
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"side": s, "seed": seed,
                                         "order": order.index(s),
                                         "workload": a.workload,
                                         "result": res[s]}) + "\n")
            if res[s] is None or not res[s]["correct"]:
                failed[s] += 1
        if any(res[s] is None or not res[s]["correct"] for s in sides):
            print(f"seed {seed}: pair dropped (a run failed or was "
                  f"incorrect)", flush=True)
            continue
        for s in sides:
            for m in metrics:
                values[s][m].append(res[s]["metrics"][m]["value"])
        print(f"seed {seed} ({order[0]} first): " + "  ".join(
            f"{m} {res['parent']['metrics'][m]['value']:.4g}->"
            f"{res['change']['metrics'][m]['value']:.4g}" for m in metrics),
            flush=True)
    return values, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--confirm", help="a second seed range the gain rule "
                    "must also pass on")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    ranges = [a.seeds] + ([a.confirm] if a.confirm else [])
    runs = [run_pairs(a, spec, metrics, seeds(r)) for r in ranges]
    first = next(iter(metrics))
    counts = [len(values["parent"][first]) for values, _ in runs]
    failed = {s: sum(f[s] for _, f in runs) for s in ("parent", "change")}
    print(f"\n{a.workload}: {' + '.join(map(str, counts))} pairs "
          f"(seeds {' + '.join(ranges)}); failed or incorrect runs: "
          f"parent {failed['parent']}, change {failed['change']}")
    if not all(counts):
        sys.exit(1)
    print(f"{'metric':<16} {'parent median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'delta':>8} {'wins':>13} "
          f"{'gain':>5} {'bound':>10}")
    for m, spec_m in metrics.items():
        per = [verdicts(v["parent"][m], v["change"][m], spec_m["better"],
                        spec_m["bound"]) for v, _ in runs]
        gain = all(g and f["change"] <= f["parent"]
                   for (_, _, _, g, _), (_, f) in zip(per, runs))
        wins = " + ".join(f"{w}/{n}" for (_, _, w, _, _), n in
                          zip(per, counts))
        pv = [x for v, _ in runs for x in v["parent"][m]]
        cv = [x for v, _ in runs for x in v["change"][m]]
        pm, cm, _, _, limit = verdicts(pv, cv, spec_m["better"],
                                       spec_m["bound"])
        (pq1, pq3), (cq1, cq3) = quartiles(pv), quartiles(cv)
        delta = (cm / pm - 1) * 100 if pm else 0.0
        print(f"{m:<16} {f'{pm:.4g} [{pq1:.4g}, {pq3:.4g}]':>30} "
              f"{f'{cm:.4g} [{cq1:.4g}, {cq3:.4g}]':>30} {delta:>+7.1f}% "
              f"{wins:>13} {'yes' if gain else 'no':>5} {limit:>10}")


if __name__ == "__main__":
    main()
