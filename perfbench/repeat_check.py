#!/usr/bin/env python3
"""Counter-repeat self-check and tracing overhead.

    python3 perfbench/repeat_check.py [--seed N] [--workloads a,b]

Runs the traced run of each workload twice with the same seed and compares
every per-layer counter (jobs, tasks and bytes per layer, the sync outcome
counts) and write_bytes_per_doc. Counters whose two values differ cannot
serve as a regression signal; they are printed as DROP and must not be
listed in BENCHMARK.json. Then runs the untraced run of the same seed and
prints the tracing overhead: the traced runs' median unit time
(trace.op_ms) minus the untraced run's (op_s). Exits 1 if a counter that
BENCHMARK.json lists did not repeat.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMES = ("self_ms", "task_ms", "gap_ms", "wall_ms", "op_ms", "overhead_ms")


def record(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(r.stdout.strip().splitlines()[-2])["record"]


def counters(rec):
    c = {k: v["value"] for k, v in rec["metrics"].items()
         if not k.endswith(TIMES)}
    c["write_bytes_per_doc"] = \
        rec["workload_metrics"]["write_bytes_per_doc"]["value"]
    return c


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    listed = {m["name"] for m in spec["per_layer"]}
    bad = []
    for w in a.workloads.split(","):
        runs = [record(w, a.seed, spec["run_seconds"], 1) for _ in range(2)]
        first, second = counters(runs[0]), counters(runs[1])
        for k in sorted(first):
            same = first[k] == second.get(k)
            if not same:
                print(f"DROP {w} {k}: {first[k]} then {second.get(k)}")
                if k in listed:
                    bad.append(k)
        print(f"{w}: {sum(first[k] == second.get(k) for k in first)} of "
              f"{len(first)} counters repeat")
        plain = record(w, a.seed, spec["run_seconds"], 0)
        traced_s = sorted(r["metrics"]["trace.op_ms"]["value"] for r in runs)
        op_s = plain["metrics"]["op_s"]["value"]
        print(f"{w}: traced unit {traced_s[0] / 1000:.3f} and "
              f"{traced_s[1] / 1000:.3f} s, untraced {op_s:.3f} s, overhead "
              f"{(traced_s[0] + traced_s[1]) / 2000 - op_s:+.3f} s")
    if bad:
        print("listed counters that did not repeat: " + ", ".join(sorted(set(bad))))
        sys.exit(1)


if __name__ == "__main__":
    main()
