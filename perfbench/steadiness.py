#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports, per workload and
end-to-end metric, the median and the spread: the distance between the
first and third quartile (`statistics.quantiles(values, n=4)`) as a share
of the median.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b] [--out f.json]

Run it from the root of a checkout, like `run.py`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            cmd = bench["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                      str(bench["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = json.loads(r.stdout.strip().splitlines()[-1]) if r.returncode == 0 else None
            runs.append(dict(seed=s, rc=r.returncode, elapsed_s=round(time.time() - t0, 1),
                             result=last))
            print(f"{w} seed {s}: rc={r.returncode} {runs[-1]['elapsed_s']}s "
                  f"correct={last and last['correct']}", file=sys.stderr, flush=True)
        metrics = {}
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs if r["result"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            metrics[name] = dict(median=med, spread=(q3 - q1) / med if med else None,
                                 bound=bound, values=vals)
        report[w] = dict(runs=[{k: v for k, v in r.items() if k != "result"} |
                               {"correct": r["result"] and r["result"]["correct"],
                                "failed": r["result"] and r["result"]["failed"]}
                               for r in runs], metrics=metrics)
        for name, m in metrics.items():
            flag = "" if m["spread"] is None or m["spread"] <= m["bound"] / 3 else "  <-- wide"
            print(f"{w:26s} {name:24s} median {m['median']:12.4f} spread "
                  f"{m['spread']:.3f} (bound {m['bound']}){flag}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
