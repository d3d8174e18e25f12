"""Run the benchmark several times per workload and report each metric's
median and quartile spread (the distance between the first and third
quartile as a share of the median), next to the bound BENCHMARK.json
gives it.

Usage (from the repository root):

  python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--trace 0|1]
                              [--json OUT] [WORKLOAD ...]

With no workloads named, every workload in BENCHMARK.json runs.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", help="also write all results to this file")
    ap.add_argument("--logs", help="copy each run's program log into this directory")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in names:
        results, secs = [], []
        for i in range(a.runs):
            t0 = time.time()
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(a.first_seed + i),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", str(a.trace)],
                capture_output=True, text=True)
            secs.append(time.time() - t0)
            if a.logs:
                os.makedirs(a.logs, exist_ok=True)
                shutil.copy(f".bench_build/perfbench/last-{w}.log",
                            os.path.join(a.logs, f"{w}-{a.first_seed + i}-{a.trace}.log"))
            if out.returncode != 0:
                print(f"{w} seed {a.first_seed + i}: exit {out.returncode}\n{out.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            r = json.loads(out.stdout.strip().splitlines()[-1])
            results.append(r)
            print(f"{w} seed {a.first_seed + i}: {secs[-1]:.1f} s, correct={r['correct']}, "
                  f"failed={r['failed']}/{r['attempted']}", file=sys.stderr)
        rows = {}
        for m in results[0]["metrics"] if results else []:
            vals = [r["metrics"][m]["value"] for r in results]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else 0.0
            rows[m] = {"median": med, "q1": q[0], "q3": q[2], "spread": spread,
                       "bound": bounds.get(m), "unit": results[0]["metrics"][m]["unit"],
                       "values": vals}
            flag = ""
            if m in bounds and spread > bounds[m] / 3:
                flag = "  <-- above a third of its bound"
            print(f"  {w:14s} {m:28s} median {med:12.4f}  spread {spread:6.3f}"
                  f"  bound {bounds.get(m, '-')}{flag}")
        report[w] = {"runs": len(results), "correct": all(r["correct"] for r in results),
                     "run_s_median": statistics.median(secs), "metrics": rows}
        print(f"  {w}: {len(results)} runs, median run {statistics.median(secs):.1f} s")
    if a.json:
        with open(a.json, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
