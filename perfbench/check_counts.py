#!/usr/bin/env python3
"""Check that per-call counts repeat exactly across two traced runs.

    python3 perfbench/check_counts.py [--seed N] [--seconds S] [workload ...]

Runs each workload twice with --trace 1 and the same seed, and compares
every count metric (jobs, tasks, batches per push, state rows and bytes,
shuffle bytes, state bytes written). Exits 1 if any differs. A claim that
rests on a count needs the count to repeat exactly.
"""
import argparse
import json
import os
import subprocess
import sys

COUNT_SUFFIXES = (".jobs", ".tasks", ".batches_per_push", ".state_rows",
                  ".state_bytes", ".shuffle_bytes", ".state_bytes_written")


def traced(workload, seed, seconds):
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    out = subprocess.run([sys.executable, run, "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", "1"],
                         capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("workloads", nargs="*", default=["log_ingest", "stream_deltas"])
    a = ap.parse_args()
    ok = True
    for w in a.workloads:
        first, second = traced(w, a.seed, a.seconds), traced(w, a.seed, a.seconds)
        names = sorted(k for k in first if k.endswith(COUNT_SUFFIXES))
        diff = [(k, first[k]["value"], second[k]["value"]) for k in names
                if first[k]["value"] != second[k]["value"]]
        print(f"{w}: {len(names) - len(diff)}/{len(names)} count metrics repeat exactly")
        for k, x, y in diff:
            print(f"  {k}: {x} then {y}")
        ok &= not diff
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
