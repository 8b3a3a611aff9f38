#!/usr/bin/env python3
"""Interleaved A/B of two commits on the benchmark.

    python3 perfbench/ab.py --base HEAD~1 --change HEAD

Checks both commits out as git worktrees under --tmp (default /tmp),
copies this checkout's benchmark (perfbench/ and BENCHMARK.json) into
both, so the two sides run identical benchmark code and settings, and
runs every workload of BENCHMARK.json in 10 pairs: pair i uses seed
1000 + i on both sides, and the side that runs first alternates. Every
run is a fresh JVM.

For each workload and end-to-end metric it prints one row: each side's
median and quartiles, the change's win fraction over the pairs (ties
count for neither), and a verdict:

  gain        the change wins at least 9 of 10 pairs and the medians
              differ by more than the base's quartile spread
  regression  the change's median is worse than the base's by more than
              the metric's bound
  unresolved  either side's quartile spread exceeds the bound, unless
              every run of the change beats every run of the base
  flat        none of the above

The worktrees are removed at the end; --out writes every run as JSON.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PAIRS = 10
SEED0 = 1000


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, capture_output=True,
                          text=True).stdout.strip()


def worktree(tmp, rev, label):
    path = Path(tempfile.mkdtemp(prefix=f"perfbench-ab-{label}-", dir=tmp))
    path.rmdir()
    git("worktree", "add", "--detach", str(path), rev)
    shutil.rmtree(path / "perfbench", ignore_errors=True)
    shutil.copytree(BENCH, path / "perfbench", ignore=shutil.ignore_patterns(
        ".work", "target", "project/project", "project/target"))
    shutil.copy2(ROOT / "BENCHMARK.json", path / "BENCHMARK.json")
    return path


def run(path, workload, seed, seconds):
    r = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=path, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run failed in {path} ({workload}, seed {seed})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(metric, base, change):
    lower = metric["better"] == "lower"
    better = (lambda c, b: c < b) if lower else (lambda c, b: c > b)
    b1, bm, b3 = quartiles(base)
    c1, cm, c3 = quartiles(change)
    pairs = list(zip(base, change))
    wins = sum(better(c, b) for b, c in pairs) / len(pairs)
    worse = (cm - bm) / bm if lower else (bm - cm) / bm
    spread = max((b3 - b1) / bm, (c3 - c1) / cm)
    every = all(better(c, b) for c in change for b in base)
    if wins >= 0.9 and abs(cm - bm) > (b3 - b1) and better(cm, bm):
        v = "gain"
    elif worse > metric["bound"]:
        v = "regression"
    elif spread > metric["bound"] and not every:
        v = "unresolved"
    else:
        v = "flat"
    return (b1, bm, b3), (c1, cm, c3), wins, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="git revision of the parent side")
    ap.add_argument("--change", required=True, help="git revision of the changed side")
    ap.add_argument("--tmp", default="/tmp")
    ap.add_argument("--out", help="write every run as JSON here")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    sides = {"base": a.base, "change": a.change}
    trees = {}
    runs = {w: {"base": [], "change": []} for w in workloads}
    try:
        for side, rev in sides.items():
            trees[side] = worktree(a.tmp, rev, side)
        for w in workloads:
            for i in range(PAIRS):
                order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
                for side in order:
                    res = run(trees[side], w, SEED0 + i, spec["run_seconds"])
                    runs[w][side].append(res)
                    print(f"{w} pair {i + 1}/{PAIRS} {side}: correct={res['correct']} " +
                          " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                          file=sys.stderr, flush=True)
    finally:
        for path in trees.values():
            subprocess.run(["git", "worktree", "remove", "--force", str(path)], cwd=ROOT)
    print(f"{'workload':14s} {'metric':10s} {'base q1/med/q3':>28s} {'change q1/med/q3':>28s} "
          f"{'wins':>5s}  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            base = [r["metrics"][m["name"]]["value"] for r in runs[w]["base"]]
            change = [r["metrics"][m["name"]]["value"] for r in runs[w]["change"]]
            b, c, wins, v = verdict(m, base, change)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:14s} {m['name']:10s} {fmt(b):>28s} {fmt(c):>28s} {wins:5.2f}  {v}")
        failed = sum(not r["correct"] for s in runs[w].values() for r in s)
        if failed:
            print(f"{w:14s} {failed} runs reported failed operations")
    if a.out:
        Path(a.out).write_text(json.dumps({"sides": sides, "runs": runs}, indent=1) + "\n")


if __name__ == "__main__":
    main()
