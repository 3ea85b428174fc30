#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same tree, against the bounds.

    python3 perfbench/steadiness.py [--runs 10] [--workload NAME ...]
                                    [--seed-bases 1000 2000]

For each workload it makes two sets of `--runs` untraced runs, the first
with seeds from the first base up, the second from the second, and
reports per end-to-end metric:
  - spread: the distance between the first and third quartile of a set's
    values (statistics.quantiles, n=4) as a share of the set's median;
  - shift: how much worse the second set's median is than the first's, as
    a share of the first's.
A metric passes when both sets' spreads and the shift are within its
bound; setup_s is held to this too. Each run's metrics are printed as it
ends. Exits 1 if any metric fails. Run it from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(cmd, workload, seed, seconds):
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} failed ({p.returncode})")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"{workload} seed {seed}: wrong output or failed ops")
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed-bases", type=int, nargs=2, default=[1000, 2000])
    args = ap.parse_args()
    ok = True
    for w in args.workload:
        sets = []
        for base in args.seed_bases:
            runs = []
            for s in range(base, base + args.runs):
                runs.append(run_once(bench["command"], w, s, bench["run_seconds"]))
                print(f"{w} seed {s}: " + json.dumps(runs[-1]), flush=True)
            sets.append(runs)
        print(f"== {w} (seeds {args.seed_bases[0]}.. / {args.seed_bases[1]}..)")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            a = [r[name] for r in sets[0]]
            b = [r[name] for r in sets[1]]
            sa, sb = spread(a), spread(b)
            ma, mb = statistics.median(a), statistics.median(b)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            bad = worse > bound or max(sa, sb) > bound
            ok &= not bad
            print(f"{'FAIL' if bad else 'ok  '} {name:>16}: median {ma:.4g} / "
                  f"{mb:.4g}, spread {sa:.3f} / {sb:.3f}, shift {worse:+.3f}, "
                  f"bound {bound}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
