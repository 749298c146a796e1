#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds S]
                                [--save FILE] [--against FILE]

Runs the workload once per seed (untraced), then prints, for each
end-to-end metric in BENCHMARK.json, the median of the runs and the
distance between their first and third quartiles as a share of the
median, beside the metric's bound and a third of it. A spread above a
third of the bound means the benchmark is not steady enough for that
bound. `--save` writes the values to FILE; `--against` compares this
set's medians with those of a saved earlier set and flags every metric
whose median got worse by more than its bound. Run it from the root of
a checkout.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--save")
    ap.add_argument("--against")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    secs = a.seconds or bench["run_seconds"]
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                               "--seconds", str(secs), "--trace", "0"],
                           capture_output=True, text=True)
        try:
            res = json.loads(p.stdout.strip().split("\n")[-1])
        except ValueError:
            res = {"correct": False}
        if p.returncode != 0 or not res["correct"]:
            sys.exit(f"seed {s}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
        for name, m in res["metrics"].items():
            values[name].append(m["value"])
        print(f"seed {s} ({time.time() - t0:.0f} s): " + " ".join(f"{k}={v[-1]:.6g}" for k, v in values.items()),
              flush=True)
    if a.save:
        with open(a.save, "w") as f:
            json.dump(values, f)
    before = json.load(open(a.against)) if a.against else {}
    print(f"\n{'metric':<14} {'median':>12} {'iqr/median':>11} {'bound':>6} {'bound/3':>8}"
          + (f" {'worse by':>9}" if before else ""))
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        share = (q3 - q1) / med if med else float("nan")
        flag = "" if share < m["bound"] / 3 else "  <-- too wide"
        shift = ""
        if m["name"] in before:
            med0 = statistics.median(before[m["name"]])
            worse = (med - med0) / med0 if m["better"] == "lower" else (med0 - med) / med0
            shift = f" {worse:>9.4f}"
            if worse > m["bound"]:
                flag += "  <-- worse than the saved set by more than the bound"
        print(f"{m['name']:<14} {med:>12.6g} {share:>11.4f} {m['bound']:>6} "
              f"{m['bound'] / 3:>8.4f}{shift}{flag}")


if __name__ == "__main__":
    main()
