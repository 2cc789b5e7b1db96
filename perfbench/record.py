#!/usr/bin/env python3
"""Records the expected outputs the benchmark checks every execution
against (`expected.json`).

Runs each query of the named workloads once on the input tables,
writes every output as parquet and checks it with the repository's DuckDB
oracle (`tools/check_oracle.py`). The row count and digest of each output
are recorded with the oracle's verdict: "pass", or "none" for a query the
catalog declares no oracle for. A query whose output fails its oracle is
not recorded, so the benchmark counts every execution of it as failed.

Usage (from the repo root): python3 perfbench/record.py [workload ...]
"""
import json
import os
import subprocess
import sys

import run

HERE = os.path.dirname(os.path.abspath(__file__))


def main(workloads):
    root = os.getcwd()
    build_dir, classes, data = run.prepare(root)
    out = os.path.join(build_dir, "record")
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    queries = list(dict.fromkeys(q for w in workloads for q in run.WORKLOADS[w][0]))
    cmd = run.java_cmd(root, classes, run.jvm_options(root), out,
                       ["record", "--data", data, "--queries", ",".join(queries),
                        "--cores", str(len(os.sched_getaffinity(0))), "--out", out])
    rc, log = run.run_jvm(cmd, out, timeout=3600)
    if rc != 0:
        sys.exit(f"record run failed ({rc}):\n{log}")
    oracle = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                             out, data] + queries, stdout=subprocess.PIPE, text=True)
    print(oracle.stdout)
    verdict = {}
    for line in oracle.stdout.splitlines():
        if line.startswith("[PASS] ") or line.startswith("[FAIL] "):
            name = line[7:].split(":", 1)[0]
            verdict[name] = "pass" if line.startswith("[PASS]") else "fail"
    with open(os.path.join(out, "oracle_sql.json")) as f:
        has_oracle = set(json.load(f))
    with open(os.path.join(out, "digests.json")) as f:
        digests = json.load(f)
    path = os.path.join(HERE, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    for q in queries:
        v = verdict.get(q) if q in has_oracle else "none"
        if v in ("pass", "none"):
            expected[q] = dict(digests[q], oracle=v)
        else:
            expected.pop(q, None)
            print(f"not recorded: {q} (oracle verdict {v})")
    with open(path, "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:] or sorted(run.WORKLOADS))
