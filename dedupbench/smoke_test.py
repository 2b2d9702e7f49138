#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Usage (from the repository root): python3 dedupbench/smoke_test.py

Runs every workload BENCHMARK.json declares once on tiny inputs (--smoke),
untraced and traced, and asserts that each run is correct and prints every
end-to-end (untraced) or per-layer (traced) metric BENCHMARK.json names,
with its declared unit.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failures = []
    for w in [w["name"] for w in spec["workloads"]]:
        for trace, declared in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "1",
                 "--seconds", "1", "--trace", trace, "--smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            tag = f"{w} trace={trace}"
            if p.returncode != 0 or not lines:
                failures.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                failures.append(f"{tag}: result keys {sorted(res)}")
            if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                failures.append(f"{tag}: not correct: {lines[-2:]}")
            got = res.get("metrics", {})
            for m in declared:
                v = got.get(m["name"])
                if v is None:
                    failures.append(f"{tag}: metric {m['name']} missing")
                elif v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
                    failures.append(f"{tag}: metric {m['name']} printed as {v}")
            extra = set(got) - {m["name"] for m in declared}
            if extra:
                failures.append(f"{tag}: undeclared metrics {sorted(extra)}")
            print(f"{tag}: {len(got)} metrics, correct={res.get('correct')}", flush=True)
    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
