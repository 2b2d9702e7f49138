#!/usr/bin/env python3
"""Cross-check the recorded query result hashes against the DuckDB oracle.

Usage (from the repository root, after one benchmark run has built it):

    python3 dedupbench/crosscheck.py

1. graft.Verify dumps the timed queries' results over the dataset, and
   tools/verify_compare.py compares every dump with the oracle SQL run in
   DuckDB (rows, schema, value hash).
2. The harness re-records the result hashes at this commit; they must equal
   the committed dedupbench/expected/<dataset>.json.

Run it whenever the expected hashes are re-recorded (`run.py --workload
queries --record`), so the hashes the benchmark checks are of results the
oracle agrees with.
"""
import json
import os
import shutil
import subprocess
import sys

import run as bench

HERE = bench.HERE
ROOT = bench.ROOT


def java_cmd(cp, main, args, props):
    cmd = [bench.java_bin(), "-Xmx4g"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    for p in bench.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main] + args


def main():
    dataset = "sf0.001"
    data = os.path.join(HERE, "data", dataset)
    cp, _ = bench.build(bench.source_sha())
    work = os.path.join(bench.STATE, "crosscheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    timed = subprocess.run(
        java_cmd(cp, "graftbench.Main", ["--print-timed"], {}),
        capture_output=True, text=True, check=True).stdout.split()
    props = {"graft.oracleDir": os.path.join(work, "oracle"),
             "graft.verifyFilter": ",".join(timed),
             "java.io.tmpdir": os.path.join(bench.STATE, "tmp"),
             "spark.ui.enabled": "false"}
    out = os.path.join(work, "verify")
    subprocess.run(java_cmd(cp, "graft.Verify", [data, out], props), check=True, cwd=work,
                   env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark")))
    # compare only the timed queries
    oracle_file = os.path.join(out, "oracle_sql.json")
    oracle = json.load(open(oracle_file))
    json.dump({k: v for k, v in oracle.items() if any(k.startswith(t) for t in timed)},
              open(oracle_file, "w"))
    ok = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "verify_compare.py"),
                         data, out]).returncode == 0
    # re-record the hashes and compare with the committed ones
    expected = os.path.join(HERE, "expected", f"{dataset}.json")
    tmp_bench = os.path.join(work, "bench")
    os.makedirs(os.path.join(tmp_bench, "expected"))
    os.symlink(os.path.join(HERE, "data"), os.path.join(tmp_bench, "data"))
    subprocess.run(java_cmd(cp, "graftbench.Main",
                            ["--workload", "queries", "--seed", "1", "--seconds", "0", "--record",
                             "--bench-dir", tmp_bench, "--state", os.path.join(work, "state")],
                            {"java.io.tmpdir": os.path.join(bench.STATE, "tmp")}),
                   check=True, cwd=work, stdout=subprocess.DEVNULL)
    fresh = json.load(open(os.path.join(tmp_bench, "expected", f"{dataset}.json")))["hashes"]
    committed = json.load(open(expected))["hashes"]
    same = fresh == committed
    print(f"recorded hashes {'match' if same else 'DIFFER from'} {os.path.relpath(expected, ROOT)}")
    sys.exit(0 if ok and same else 1)


if __name__ == "__main__":
    main()
