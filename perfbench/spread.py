#!/usr/bin/env python3
"""Run workloads over several seeds and print each end-to-end metric's
median and spread: the distance between the first and third quartiles
(statistics.quantiles, n=4) as a share of the median.

    python3 perfbench/spread.py --seeds 1-10 [--workloads serve_point,publish_swap] [--out FILE]

Run from the root of a graft checkout. Each result line is also appended
to FILE (JSON lines), so two sets can be compared later.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    for wl in names:
        rows = []
        for seed in seeds(a.seeds):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            if p.returncode != 0:
                print(f"{wl} seed {seed}: exit {p.returncode}", file=sys.stderr)
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            rows.append(r)
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"workload": wl, "seed": seed, **r}) + "\n")
        print(f"{wl}: {len(rows)} runs, {sum(r['failed'] for r in rows)} failed operations")
        for m in spec["end_to_end"]:
            vs = [r["metrics"][m["name"]]["value"] for r in rows]
            if len(vs) < 2:
                continue
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            print(f"  {m['name']:20s} median {med:12.4f} {m['unit']:5s} spread {(q3 - q1) / med:6.3f}"
                  f"  (bound {m['bound']})")


if __name__ == "__main__":
    main()
