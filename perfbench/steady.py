#!/usr/bin/env python3
"""Run every workload on several seeds and report each end-to-end metric's
median and quartile spread (IQR as a share of the median).

    python3 perfbench/steady.py --seeds 1-10 [--out perfbench/results/x.json]
    python3 perfbench/steady.py --seeds 1 --repeat 5   # run-to-run noise alone

Spreads across seeds mix differences between request sets with noise;
repeating one seed isolates the noise. Runs are sequential, one JVM at a
time, with BENCHMARK.json's run length.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--repeat", type=int, default=1, help="runs per seed")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    runs = {}
    for w in names:
        for s in [s for s in seeds(a.seeds) for _ in range(a.repeat)]:
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{w} seed {s} failed:\n{p.stderr[-3000:]}")
            res = json.loads(lines[-1])
            diag = json.loads(lines[-2]).get("contention", {}) if len(lines) > 1 else {}
            runs.setdefault(w, []).append({"seed": s, **res, "contention": diag})
            print(w, s, json.dumps({k: round(v["value"], 4) for k, v in res["metrics"].items()}),
                  "failed", res["failed"], flush=True)
    summary = {}
    for w, rs in runs.items():
        summary[w] = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[w][m["name"]] = {"median": med, "q1": q1, "q3": q3,
                                     "spread": (q3 - q1) / med, "bound": m["bound"]}
            print(f"{w:12s} {m['name']:28s} median {med:12.4f} spread {(q3 - q1) / med:.4f} "
                  f"(bound {m['bound']})")
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump({"summary": summary, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
