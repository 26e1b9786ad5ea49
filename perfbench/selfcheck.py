"""Counter-determinism self-check and tracing overhead for one workload.

    python3 perfbench/selfcheck.py --workload lake_sql --seed 1 --seconds 20

Runs the benchmark three times on one seed: untraced, traced, traced.  The
two traced runs must give identical counts per op -- jobs, stages, tasks,
rows and bytes written, pages and rows read -- except for the counters in
NONDETERMINISTIC, which are listed with the reason they vary and left out
of the exact comparison.  Any other difference fails the check (exit 1).
It also prints the tracing overhead: traced against untraced ``pass_s``.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import re
import shutil
import subprocess
import sys

# Counters that legitimately differ between identical runs, with the
# reason, left out of the exact comparison.  Times are never compared.
# None has differed so far: with one closed-loop client, jobs, stages,
# tasks, rows, and input, shuffle, spill and output bytes all repeat
# exactly on both workloads, AQE decisions included.
NONDETERMINISTIC: dict[str, str] = {}
TIMES = {"task_cpu_s", "gc_s", "trigger_s", "add_batch_s", "commit_s", "source_s", "readback_s"}


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, str]:
    """The run's JSON result and its ``ops:`` line (which holds the
    untraced ``pass_s``: it is reported there, not in the JSON)."""
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=600).stdout
    lines = out.strip().splitlines()
    return json.loads(lines[-1]), next(x for x in lines if x.startswith("ops: "))


def per_op_counters(path: str) -> dict:
    """{(op, span name): {counter: total}} from a spans file."""
    acc: dict = collections.defaultdict(lambda: collections.defaultdict(float))
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            for k, v in s["counters"].items():
                if k not in TIMES:
                    acc[(s["op"], s["name"])][k] += v
    return acc


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()
    spans = os.path.join(".perfbench_work", "spans", f"{args.workload}-{args.seed}.jsonl")

    base, ops_line = run(args.workload, args.seed, args.seconds, 0)
    traced, counters = [], []
    for i in range(2):
        traced.append(run(args.workload, args.seed, args.seconds, 1)[0])
        shutil.copy(spans, f"{spans}.{i}")
        counters.append(per_op_counters(f"{spans}.{i}"))

    differ: dict[str, int] = collections.Counter()
    for key in sorted(set(counters[0]) | set(counters[1])):
        a, b = counters[0].get(key, {}), counters[1].get(key, {})
        for c in sorted(set(a) | set(b)):
            if a.get(c) != b.get(c):
                differ[c] += 1
    compared = sorted({c for d in counters[0].values() for c in d} - set(NONDETERMINISTIC))
    print(f"{args.workload} seed {args.seed}: {len(counters[0])} (op, span) pairs")
    print("compared exactly: " + ", ".join(compared))
    for c, why in NONDETERMINISTIC.items():
        print(f"excluded: {c} ({why}); differed on {differ.get(c, 0)} pairs")
    bad = {c: n for c, n in differ.items() if c not in NONDETERMINISTIC}
    for c, n in sorted(bad.items()):
        print(f"DIFFERS: {c} on {n} pairs")

    p0 = float(re.search(r"pass_s=([0-9.]+)", ops_line).group(1))
    for i, t in enumerate(traced):
        p1 = t["metrics"]["trace.pass_s"]["value"]
        rb = t["metrics"]["trace.readback_s"]["value"]
        print(f"tracing overhead, traced run {i + 1}: pass_s {p0:.2f}s untraced, "
              f"{p1:.2f}s traced ({100 * (p1 / p0 - 1):+.1f}%); counter read-back "
              f"inside the traced pass {rb:.2f}s ({100 * rb / p1:.1f}%)")
    ok = not bad and base["correct"] and all(t["correct"] for t in traced)
    print("self-check " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
