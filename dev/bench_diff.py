#!/usr/bin/env python3
"""Compare two benchmark results.

Usage:
  python3 dev/bench_diff.py OLD NEW [--median] [--layers]

OLD and NEW are either two Bench JSON artifacts (BENCH_LAST.json /
BENCH_r{N}.json) or two saved outputs of `python3 bench/run.py`; for the
latter the last line holding a JSON object with "metrics" is the result.

Bench JSON: per-query deltas sorted by regression size, plus common-set
totals. Queries present in only one file are listed as surface changes —
totals are compared over the COMMON query set only, because comparing
totals across different query counts is the round-over-round mistake this
tool exists to prevent. --median uses the noise-tolerant per-query medians
(3-pass Bench); default is the steady-state min.

bench/run.py results: one row per metric (old, new, delta, percent),
marked "better"/"worse" by the direction BENCHMARK.json declares.
--layers groups the per-span counters of traced runs (`--trace 1`,
`<span>.<counter>`) into one block per span, so a change shows which layer
moved: jobs, tasks, task time, driver time, shuffle, spill, GC, scheduler
delay. Spans that read 0 in both runs (not called by the workload) are
left out.
"""
import json
import os
import sys

try:  # die quietly under `| head`
    from signal import SIG_DFL, SIGPIPE, signal
    signal(SIGPIPE, SIG_DFL)
except ImportError:  # non-POSIX
    pass

# per-span counters in the order the tracer reports them
COUNTERS = ["ms", "jobs", "tasks", "task_ms", "driver_ms", "shuffle_bytes",
            "spill_bytes", "gc_ms", "sched_ms"]


def load(path):
    """("bench", artifact) for a Bench JSON file, ("run", metrics) for a
    bench/run.py output, where metrics maps name -> value."""
    with open(path) as fh:
        text = fh.read()
    try:
        doc = json.loads(text)
        if isinstance(doc, dict) and "queries" in doc:
            return "bench", doc
    except ValueError:
        pass
    for line in reversed(text.splitlines()):
        try:
            doc = json.loads(line)
        except ValueError:
            continue
        if isinstance(doc, dict) and "metrics" in doc:
            return "run", {k: v["value"] for k, v in doc["metrics"].items()}
    sys.exit(f"{path}: neither a Bench JSON artifact nor a bench/run.py result")


def directions():
    """metric name -> "lower"/"higher", from BENCHMARK.json if present."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                        "BENCHMARK.json")
    try:
        with open(path) as fh:
            spec = json.load(fh)
    except (OSError, ValueError):
        return {}
    return {m["name"]: m.get("better")
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def pct(a, b):
    return (b / a - 1) * 100 if a else 0.0


def verdict(name, a, b, better):
    if a is None or b is None or a == b or better.get(name) not in ("lower", "higher"):
        return ""
    improved = (b < a) == (better[name] == "lower")
    return "  better" if improved else "  worse"


def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def diff_runs(old, new, layers):
    better = directions()
    names = sorted(set(old) | set(new))
    if not layers:
        print(f"{'metric':52s} {'old':>12s} {'new':>12s} {'delta':>12s} {'pct':>8s}")
        for n in names:
            a, b = old.get(n), new.get(n)
            d = f"{b - a:+12.6g} {pct(a, b):+7.1f}%" if None not in (a, b) else ""
            print(f"{n:52s} {fmt(a):>12s} {fmt(b):>12s} {d}{verdict(n, a, b, better)}")
        return
    spans = {}
    for n in names:
        span, _, counter = n.rpartition(".")
        spans.setdefault(span or n, {})[counter] = n
    for span in sorted(spans):
        members = spans[span]
        if all(not old.get(m) and not new.get(m) for m in members.values()):
            continue
        print(span)
        order = [c for c in COUNTERS if c in members] + \
            sorted(c for c in members if c not in COUNTERS)
        for c in order:
            n = members[c]
            a, b = old.get(n), new.get(n)
            d = f"{b - a:+12.6g} {pct(a, b):+7.1f}%" if None not in (a, b) else ""
            print(f"  {c:22s} {fmt(a):>12s} {fmt(b):>12s} {d}"
                  f"{verdict(n, a, b, better)}")


def diff_bench(old, new, use_median):
    key = ("queries_median"
           if use_median and "queries_median" in old and "queries_median" in new
           else "queries")
    qo, qn = old[key], new[key]
    common = sorted(set(qo) & set(qn))
    added = sorted(set(qn) - set(qo))
    removed = sorted(set(qo) - set(qn))

    rows = []
    for q in common:
        a, b = qo.get(q), qn.get(q)
        if a is None or b is None:  # failed in one run — not comparable
            continue
        rows.append((q, a, b, b - a, pct(a, b)))
    rows.sort(key=lambda r: -r[3])

    print(f"metric={key}  common={len(common)}  "
          f"added={len(added)}  removed={len(removed)}")
    print(f"{'query':28s} {'old':>8s} {'new':>8s} {'delta':>8s} {'pct':>8s}")
    for q, a, b, d, p in rows:
        flag = "  <<" if abs(d) > 0.5 and abs(p) > 25 else ""
        print(f"{q:28s} {a:8.2f} {b:8.2f} {d:+8.2f} {p:+7.1f}%{flag}")
    to = sum(r[1] for r in rows)
    tn = sum(r[2] for r in rows)
    print(f"\ncommon-set total: {to:.1f} -> {tn:.1f} s  ({pct(to, tn):+.1f}%)")
    if added:
        print("added:  ", ", ".join(added))
    if removed:
        print("removed:", ", ".join(removed))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    (ko, old), (kn, new) = load(args[0]), load(args[1])
    if ko != kn:
        sys.exit("cannot compare a Bench JSON artifact with a bench/run.py result")
    if ko == "bench":
        diff_bench(old, new, "--median" in sys.argv)
    else:
        diff_runs(old, new, "--layers" in sys.argv)


if __name__ == "__main__":
    main()
