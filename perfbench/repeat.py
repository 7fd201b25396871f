#!/usr/bin/env python3
"""Run one workload several times and report how steady each metric is.

    python3 perfbench/repeat.py --workload tsdb [--runs 10] [--first-seed 1]
        [--seconds S] [--trace 0|1]

Each run is `perfbench/run.py` with the next seed. For every metric it
prints the median, the quartiles (statistics.quantiles, n=4), min and
max, and the spread (third minus first quartile, over the median) against
the metric's bound in BENCHMARK.json. It also prints each run's wall time
and the failed share of operations. The raw results are kept in
perfbench/out/repeat-<workload>-t<trace>.json.
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


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()

    runs = []
    for k in range(args.runs):
        seed = args.first_seed + k
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(args.seconds), "--trace", str(args.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        res = json.loads(lines[-1])
        rec = os.path.join(HERE, "out", f"{args.workload}-s{seed}-t{args.trace}", "record.json")
        steal = json.load(open(rec))["details"].get("host_steal_share")
        runs.append({"seed": seed, "wall_s": wall, "steal": steal, "result": res})
        print(f"seed {seed}: {wall:.1f} s, correct={res['correct']}, "
              f"failed {res['failed']}/{res['attempted']}, host steal {steal}", flush=True)

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"repeat-{args.workload}-t{args.trace}.json"), "w") as f:
        json.dump(runs, f, indent=1)

    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"\n{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'min':>12} {'max':>12} "
          f"{'spread':>7} {'bound':>6}")
    for name in runs[0]["result"]["metrics"]:
        vs = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        flag = "" if b is None else ("ok" if spread <= b / 3 else "WIDE" if spread > b else "near")
        print(f"{name:34} {med:12.5g} {q1:12.5g} {q3:12.5g} {min(vs):12.5g} {max(vs):12.5g} "
              f"{spread:7.3f} {'' if b is None else b:>6} {flag}")
    shares = {r["result"]["failed"] / r["result"]["attempted"] for r in runs}
    print(f"failed shares: {sorted(shares)}; mean wall {statistics.mean(r['wall_s'] for r in runs):.1f} s")


if __name__ == "__main__":
    main()
