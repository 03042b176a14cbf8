#!/usr/bin/env python3
"""Steadiness checker for the graft benchmark.

Collect a set of runs (one per seed, every workload of BENCHMARK.json):

    python3 perfbench/steadiness.py collect --seeds 1-10 --out set-a.json

Check one set, or compare two sets of the same code:

    python3 perfbench/steadiness.py check set-a.json [set-b.json]

Measure the tracing overhead (untraced and traced runs, alternating):

    python3 perfbench/steadiness.py overhead --seed 1 --pairs 2 --out o.json

For every workload and end-to-end metric it prints the spread of each set
(quartile distance over median, as statistics.quantiles(n=4) gives it) and
the change of the second set's median against the first's, in the
metric's "worse" direction. A spread must stay within the metric's bound
(setup_s is exempt) and the second median may not be worse by more than
the bound. Exit 1 if any check fails. Run from the root of a checkout.

Each collected run also records its wall time and the share of CPU time
the host stole from this machine during it (/proc/stat): on a shared
host, steal is what drifts the timings.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def cpu_ticks():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def collect(args):
    s = spec()
    runs = []
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in s["workloads"]]
    for w in names:
        for seed in seeds(args.seeds):
            t0, (s0, n0) = time.time(), cpu_ticks()
            res = run_once(w, seed, s["run_seconds"], 0)
            s1, n1 = cpu_ticks()
            runs.append({"workload": w, "seed": seed, "wall_s": time.time() - t0,
                         "steal_share": (s1 - s0) / max(1, n1 - n0), **res})
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{w} seed {seed}: {runs[-1]['wall_s']:.1f} s, "
                  f"steal {runs[-1]['steal_share']:.2f}, "
                  f"correct={res['correct']} {vals}", flush=True)
    with open(args.out, "w") as fh:
        json.dump({"run_seconds": s["run_seconds"], "runs": runs}, fh, indent=1)


def run_once(workload, seed, seconds, trace):
    """One run.py run; returns its result line, or exits on failure."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or not line.startswith("{"):
        sys.exit(f"{workload} seed {seed}: run failed (exit {p.returncode})")
    return json.loads(line)


def overhead(args):
    """Tracing overhead: alternate untraced and traced runs of one seed and
    compare each end-to-end metric's median (the traced run's own
    end-to-end numbers are in its trace file under perfbench/.work/).
    """
    s = spec()
    out = {}
    for w in [w["name"] for w in s["workloads"]]:
        plain, traced = [], []
        for i in range(args.pairs):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                if trace:
                    run_once(w, args.seed, s["run_seconds"], 1)
                    with open(os.path.join(HERE, ".work", f"trace-{w}-s{args.seed}.json")) as fh:
                        traced.append(json.load(fh)["end_to_end_traced"])
                else:
                    res = run_once(w, args.seed, s["run_seconds"], 0)
                    plain.append({k: v["value"] for k, v in res["metrics"].items()})
        out[w] = {m["name"]: {
            "untraced_median": statistics.median(r[m["name"]] for r in plain),
            "traced_median": statistics.median(r[m["name"]] for r in traced),
        } for m in s["end_to_end"]}
        for name, v in out[w].items():
            v["traced_over_untraced"] = v["traced_median"] / v["untraced_median"]
            print(f"{w} {name}: untraced {v['untraced_median']:.4g}, "
                  f"traced {v['traced_median']:.4g} ({v['traced_over_untraced']:.3f}x)")
    with open(args.out, "w") as fh:
        json.dump({"seed": args.seed, "pairs": args.pairs, "workloads": out}, fh, indent=1)


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def check(args):
    s = spec()
    sets = []
    for path in args.sets:
        with open(path) as fh:
            sets.append(json.load(fh)["runs"])
    ok = True
    for w in [w["name"] for w in s["workloads"]]:
        if not all(any(r["workload"] == w for r in runs) for runs in sets):
            continue
        print(f"== {w}")
        for m in s["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["metrics"][name]["value"] for r in runs if r["workload"] == w]
                    for runs in sets]
            cells = []
            for v in vals:
                sp = spread(v)
                bad = name != "setup_s" and sp > bound
                ok &= not bad
                cells.append(f"median {statistics.median(v):.4g} spread {sp:.3f}"
                             f"{' FAIL' if bad else ' (<bound/3)' if sp < bound / 3 else ''}")
            line = f"  {name:18s} bound {bound:<5} " + " | ".join(cells)
            if len(vals) == 2:
                a, b = statistics.median(vals[0]), statistics.median(vals[1])
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                bad = worse > bound
                ok &= not bad
                line += f" | second worse by {worse:+.3f}{' FAIL' if bad else ''}"
            print(line)
        for i, runs in enumerate(sets):
            wr = [r for r in runs if r["workload"] == w]
            print(f"  set {i + 1}: {len(wr)} runs, "
                  f"{sum(not r['correct'] for r in wr)} with failed checks, "
                  f"median run wall {statistics.median(r['wall_s'] for r in wr):.1f} s, "
                  f"median CPU steal share "
                  f"{statistics.median(r.get('steal_share', 0) for r in wr):.2f}")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--out", required=True)
    c.add_argument("--workloads", help="comma list; default: all of BENCHMARK.json")
    k = sub.add_parser("check")
    k.add_argument("sets", nargs="+")
    o = sub.add_parser("overhead")
    o.add_argument("--seed", type=int, default=1)
    o.add_argument("--pairs", type=int, default=2)
    o.add_argument("--out", required=True)
    a = ap.parse_args()
    {"collect": collect, "check": check, "overhead": overhead}[a.cmd](a)


if __name__ == "__main__":
    main()
