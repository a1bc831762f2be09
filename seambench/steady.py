"""Steadiness check for the benchmark: runs every workload in
``BENCHMARK.json`` once per seed, in sets, and compares the sets.

    python3 seambench/steady.py --seeds 10 --sets 2 --out runs.jsonl

Within a set the (workload, seed) runs go in a shuffled order, so a
drift of the machine spreads over every workload and seed instead of
lining up with one of them. Each run records the CPU steal share of
its wall time from ``/proc/stat``, its phase times and its per-op
median latencies. For each workload and end-to-end metric the summary
gives every set's median, its spread (interquartile range over median,
as ``statistics.quantiles(n=4)`` gives it), and the change of each
later set's median against the first set's in the metric's worse
direction, next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def run(bench: dict, workload: str, seed: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    steal0, total0 = _cpu_ticks()
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    steal1, total1 = _cpu_ticks()
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    phases = [json.loads(x[len("phases "):]) for x in lines if x.startswith("phases ")]
    rotations = [json.loads(x[len("rotations "):]) for x in lines
                 if x.startswith("rotations ")]
    # "  op <name>: n=<n> median=<seconds> s", one line per op name
    per_op = {x[5:x.rindex(": n=")]: float(x.rsplit("median=", 1)[1].split()[0])
              for x in lines if x.startswith("  op ")}
    return {
        "workload": workload, "seed": seed, "rc": proc.returncode, "wall_s": wall,
        "steal": (steal1 - steal0) / max(total1 - total0, 1),
        "correct": bool(out and out["correct"]),
        "metrics": {k: v["value"] for k, v in out["metrics"].items()} if out else {},
        "phases": phases[0] if phases else {},
        "rotations": rotations[0] if rotations else [],
        "op_medians": per_op,
    }


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def summarize(bench: dict, sets: list[list[dict]]) -> bool:
    ok = True
    for w in bench["workloads"]:
        print(f"{w['name']}:")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r["metrics"][name] for r in s if r["workload"] == w["name"]]
                    for s in sets]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            sign = 1 if m["better"] == "lower" else -1
            worse = [sign * (med - meds[0]) / meds[0] for med in meds[1:]]
            good = (name == "setup_s" or max(spreads) <= bound) and all(
                x <= bound for x in worse)
            ok &= good
            print(f"  {name:12s} bound {bound:.2f}  medians "
                  + " ".join(f"{x:.4g}" for x in meds)
                  + "  spreads " + " ".join(f"{x:.3f}" for x in spreads)
                  + "  worse " + " ".join(f"{x:+.3f}" for x in worse)
                  + ("" if good else "  OUT OF BOUND"))
        steal = [r["steal"] for s in sets for r in s if r["workload"] == w["name"]]
        print(f"  steal share: max {max(steal):.4f}, median {statistics.median(steal):.4f}")
    return ok


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*", help="default: all in BENCHMARK.json")
    p.add_argument("--out", required=True, help="JSON lines file, one line per run")
    args = p.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workloads:
        bench["workloads"] = [w for w in bench["workloads"] if w["name"] in args.workloads]
    sets = []
    with open(args.out, "a") as log:
        for k in range(args.sets):
            seeds = range(args.first_seed + k * args.seeds,
                          args.first_seed + (k + 1) * args.seeds)
            order = [(w["name"], s) for w in bench["workloads"] for s in seeds]
            random.Random(k).shuffle(order)
            results = []
            for workload, seed in order:
                r = run(bench, workload, seed)
                r["set"] = k
                log.write(json.dumps(r) + "\n")
                log.flush()
                print(f"set {k} {workload} seed {seed}: rc {r['rc']} "
                      f"{r['wall_s']:.0f} s, steal {r['steal']:.4f}", flush=True)
                if not r["correct"]:
                    return 1
                results.append(r)
            sets.append(results)
    return 0 if summarize(bench, sets) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
