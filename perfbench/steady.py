#!/usr/bin/env python3
"""Steadiness check: run every workload once per seed in one or more sets,
the sets' runs alternating, and report for each end-to-end metric the
median, quartiles and spread (interquartile distance as a share of the
median) of each set, and how far the last set's median moved from the
first's, next to the metric's bound.

    python3 perfbench/steady.py --seeds 1-20 --sets 2 --out runs.jsonl
    python3 perfbench/steady.py --from runs.jsonl

With ``--sets 2`` and seeds 1-20, set A runs seeds 1-10 and set B seeds
11-20 in the order A1 B11 A2 B12 ..., every workload at each step. Run from
the root of a source checkout. Each run's result line and host line are
appended to ``--out`` as one JSON line, and ``--from`` summarizes such a
file without running anything. Exits 1 if a run fails, a spread (other than
``setup_s``'s) or a move between sets exceeds its bound, ``jobs_per_op``
does not repeat exactly, or the failed share differs between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SET_NAMES = "ABCDEFGH"


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(bench: dict, wl: str, seed: int) -> dict | None:
    cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        print(f"{wl} seed {seed}: exit {p.returncode}", file=sys.stderr)
        return None
    host = [json.loads(line.split(" ", 2)[2]) for line in p.stderr.splitlines()
            if line.startswith("perfbench host ")]
    return {**json.loads(p.stdout.strip().splitlines()[-1]),
            "host": host[-1] if host else None}


def summarize(bench: dict, runs: list[dict]) -> bool:
    """Print per-set figures and the move between the first and last set;
    True if everything is within its bound."""
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    ok = True
    for wl in dict.fromkeys(r["workload"] for r in runs):
        mine = [r for r in runs if r["workload"] == wl]
        sets = list(dict.fromkeys(r["set"] for r in mine))
        shares = sorted({r["failed"] / r["attempted"] for r in mine})
        print(f"\n{wl}  (runs per set {[sum(r['set'] == s for r in mine) for s in sets]}, "
              f"failed share {shares})")
        ok &= len(shares) == 1
        for name, m in metrics.items():
            medians = []
            for s in sets:
                vals = [r["metrics"][name]["value"] for r in mine if r["set"] == s]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                medians.append(med)
                judged = name != "setup_s"
                ok &= spread <= m["bound"] or not judged
                print(f"  {s} {name:13s} median {med:9.4g}  q1 {q1:9.4g}  q3 {q3:9.4g}  "
                      f"spread {spread:6.3f}{'' if judged else ' (not judged)'}  "
                      f"bound {m['bound']}")
                if name == "jobs_per_op" and len(set(vals)) != 1:
                    print(f"    jobs_per_op does not repeat: {sorted(set(vals))}")
                    ok = False
            if len(sets) > 1:
                first, last = medians[0], medians[-1]
                worse = (last - first) / first
                if m["better"] == "higher":
                    worse = -worse
                ok &= worse <= m["bound"]
                print(f"    {sets[-1]} vs {sets[0]}: median worse by {worse:+.3f}, "
                      f"bound {m['bound']}")
    print("\nwithin bounds" if ok else "\nOUT OF BOUNDS")
    return ok


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    ap.add_argument("--from", dest="source", help="summarize this file, run nothing")
    args = ap.parse_args()
    if args.source:
        with open(args.source) as f:
            runs = [json.loads(line) for line in f]
        return 0 if summarize(bench, runs) else 1

    seeds = _seeds(args.seeds)
    per_set = len(seeds) // args.sets
    runs = []
    for i in range(per_set):
        for s in range(args.sets):
            seed = seeds[s * per_set + i]
            for wl in args.workloads.split(","):
                res = _run(bench, wl, seed)
                if res is None:
                    return 1
                res = {"workload": wl, "set": SET_NAMES[s], "seed": seed, **res}
                runs.append(res)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(res) + "\n")
                print(f"{SET_NAMES[s]} {wl} seed {seed}: " + " ".join(
                    f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()),
                    flush=True)
    return 0 if summarize(bench, runs) else 1


if __name__ == "__main__":
    sys.exit(main())
