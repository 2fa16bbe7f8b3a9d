#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py

Runs every workload the benchmark knows (also any not gated in
BENCHMARK.json) at a tiny input size, untraced and traced, and asserts that each run prints every end-to-end (untraced) or
per-layer (traced) metric with the unit BENCHMARK.json declares, as a
number, and that every output check passed. Takes a few minutes; the first
call also builds.
"""
import json
import math
import os
import subprocess
import sys

import run as bench

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{workload} trace={trace} exit {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    record = json.loads(lines[-2])["record"]
    return record, json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in bench.WORKLOADS:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            record, result = run(w, trace)
            before = len(problems)
            tag = f"{w} trace={trace}"
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] != 0:
                problems.append(f"{tag}: checks failed: {record['failures']}")
            if result["attempted"] < 1:
                problems.append(f"{tag}: no operation attempted")
            metrics = result["metrics"]
            for m in declared:
                got = metrics.get(m["name"])
                if got is None:
                    problems.append(f"{tag}: metric {m['name']} missing")
                elif got.get("unit") != m["unit"]:
                    problems.append(f"{tag}: {m['name']} unit {got.get('unit')} != {m['unit']}")
                elif not isinstance(got.get("value"), (int, float)) or \
                        not math.isfinite(got["value"]):
                    problems.append(f"{tag}: {m['name']} value {got.get('value')!r}")
            extra = set(metrics) - {m["name"] for m in declared}
            if extra:
                problems.append(f"{tag}: undeclared metrics {sorted(extra)}")
            for k in ("input_rows", "input_checksum", "host"):
                if not record.get(k):
                    problems.append(f"{tag}: record lacks {k}")
            status = "ok" if len(problems) == before else "FAIL"
            print(f"{status} {tag}: {result['attempted']} ops, {len(metrics)} metrics",
                  flush=True)
    if problems:
        print("\n".join(problems))
        sys.exit(1)
    print("smoke test passed")


if __name__ == "__main__":
    main()
