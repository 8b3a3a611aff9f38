#!/usr/bin/env python3
"""Self-test of the benchmark's input generator.

    python3 perfbench/test_gen.py [--seed N]

Generates every input set twice from one seed and once from the next
seed, then checks that the same seed gives byte-identical files, that
another seed gives different files, and that a recount of the written
files finds the planted truth the generator declares. Also checks that
BENCHMARK.json lists exactly the metrics the benchmark reports.
"""
import argparse
import json
import sys
from pathlib import Path

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    cp = run.classpath()
    code = run.run_jvm(cp, ["--mode", "gencheck", "--seed", str(a.seed), "--cores", str(run.cores()),
                            "--work", str(run.WORK)])
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    out = run.WORK / "metrics.json"
    run.run_jvm(cp, ["--mode", "metrics", "--work", str(run.WORK), "--out", str(out)])
    catalog = json.loads(out.read_text())
    for kind in ("end_to_end", "per_layer"):
        listed = [(m["name"], m["unit"]) for m in spec[kind]]
        reported = [(m["name"], m["unit"]) for m in catalog[kind]]
        ok = listed == reported
        print(f"{'ok  ' if ok else 'FAIL'} BENCHMARK.json {kind} matches the reported metrics")
        code = code or (0 if ok else 1)
    listed = [w["name"] for w in spec["workloads"]]
    ok = listed == catalog["workloads"]
    print(f"{'ok  ' if ok else 'FAIL'} BENCHMARK.json workloads match the benchmark's")
    sys.exit(code or (0 if ok else 1))


if __name__ == "__main__":
    main()
