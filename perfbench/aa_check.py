#!/usr/bin/env python3
"""A/A steadiness check: two sets of runs of the same commit, one after the
other, compared against the bounds in BENCHMARK.json. Each set runs every
workload on seeds 1-10 for the `run_seconds` of BENCHMARK.json.

    python3 perfbench/aa_check.py --out perfbench/results/aa.md
    python3 perfbench/aa_check.py --report perfbench/results/aa.json

For every workload and end-to-end metric it prints each set's median and
quartiles, the spread within each set (interquartile range over median),
and the drift of the second set's median from the first in the metric's
worse direction. A bound holds when the drift and both spreads are within
it (setup_s: drift only); the last column says whether both spreads are
also under a third of it, the margin a steady metric should have. Bounds
are to be derived from the drift between sets, not from the spread within
one.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def one_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def report(sets, workloads):
    """Table of set A against set B; `sets` holds exactly the two sets."""
    if len(sets) != 2:
        raise SystemExit(f"aa_check: expected two sets, got {len(sets)}")
    lines = ["| workload | metric | bound | set A q1 / median / q3 | set B q1 / median / q3 "
             "| spread A | spread B | drift | within bound | spread < bound/3 |",
             "|---|---|---|---|---|---|---|---|---|---|"]
    ok = True
    for w in workloads:
        for m in SPEC["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols, spreads = [], []
            for s in sets:
                xs = [r["metrics"][name]["value"] for r in s[w]]
                q1, med, q3 = quartiles(xs)
                cols.append((q1, med, q3))
                spreads.append((q3 - q1) / med if med else 0.0)
            a, b = cols[0][1], cols[1][1]
            sign = 1 if m["better"] == "lower" else -1
            drift = sign * (b - a) / a if a else 0.0
            good = drift <= bound and (name == "setup_s" or max(spreads) <= bound)
            steady = name == "setup_s" or max(spreads) < bound / 3
            ok &= good
            fmt = lambda c: " / ".join(f"{v:.4g}" for v in c)  # noqa: E731
            lines.append(f"| {w} | {name} | {bound} | {fmt(cols[0])} | {fmt(cols[1])} | "
                         f"{spreads[0]:.3f} | {spreads[1]:.3f} | {drift:+.3f} | "
                         f"{'yes' if good else 'NO'} | {'yes' if steady else 'no'} |")
    return "\n".join(lines), ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    ap.add_argument("--report", metavar="JSON",
                    help="re-render the report of an earlier run's .json against the current bounds")
    args = ap.parse_args()
    if args.report:
        sets = json.loads(Path(args.report).read_text())
        table, ok = report(sets, list(sets[0]))
        print(f"{table}\n\nall within bounds: {ok}")
        return
    workloads = [w["name"] for w in SPEC["workloads"]]
    seeds = list(range(1, 11))
    seconds = SPEC["run_seconds"]
    sets = []
    started = time.strftime("%Y-%m-%d %H:%M:%S")
    for k in range(2):
        runs = {w: [] for w in workloads}
        for w in workloads:
            for seed in seeds:
                t0 = time.monotonic()
                r = one_run(w, seed, seconds)
                runs[w].append(r)
                print(f"set {k} {w} seed {seed} ({time.monotonic() - t0:.1f} s): "
                      f"correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} " +
                      " ".join(f"{n}={v['value']:.4g}" for n, v in r["metrics"].items()),
                      flush=True)
        sets.append(runs)
    table, ok = report(sets, workloads)
    text = (f"A/A check: 2 sets x {len(seeds)} seeds x {seconds} s, "
            f"started {started}, ended {time.strftime('%Y-%m-%d %H:%M:%S')}\n\n{table}\n\n"
            f"all within bounds: {ok}\n")
    print(text)
    if args.out:
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(text)
        Path(args.out).with_suffix(".json").write_text(json.dumps(sets, indent=1))


if __name__ == "__main__":
    main()
