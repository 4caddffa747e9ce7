"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> [--seeds 1,2,...] [--trace 0]

Runs the benchmark once per seed (run_seconds from BENCHMARK.json) and
prints, for every metric, the median of its values and the distance
between their first and third quartiles as a share of the median -- the
figure each end-to-end metric's bound is compared against.  Results are
also appended as JSON lines to .bench_build/spread.jsonl.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls = {}, []
    log = os.path.join(ROOT, ".bench_build", "spread.jsonl")
    for seed in [int(s) for s in a.seeds.split(",")]:
        t0 = time.time()
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", a.trace]
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        walls.append(time.time() - t0)
        last = res.stdout.strip().splitlines()[-1] if res.stdout.strip() else "{}"
        out = json.loads(last) if last.startswith("{") else {}
        if res.returncode != 0 or not out.get("correct"):
            print("seed %d FAILED (exit %d): %s" % (seed, res.returncode, last), file=sys.stderr)
            continue
        with open(log, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed, "wall_s": walls[-1],
                                "result": out}) + "\n")
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print("seed %d wall %.1fs" % (seed, walls[-1]), flush=True)
    print("%-28s %12s %8s %8s" % ("metric", "median", "spread", "bound"))
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print("%-28s %12.4f %8.3f %8s" % (k, med, spread, bounds.get(k, "-")))
    print("runs %d, mean wall %.1fs" % (len(walls), sum(walls) / max(1, len(walls))))


if __name__ == "__main__":
    main()
