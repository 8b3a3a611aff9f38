#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ml_sql --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (sbt, the
checkout's own build plus perfbench/build.sbt), then runs one workload in
one JVM on local[N], N = the CPUs this process may use. Prints every
metric as a `metric <name> <value> <unit>` line and, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}.

Everything the run writes stays under perfbench/.work/ of the checkout:
build fingerprint and classpath, a class-data-sharing archive that cuts
JVM start-up (made once per build; it changes no measured code path),
generated inputs, Spark scratch, and the per-run report-*.json /
trace-*.json files.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
CDS = WORK / "classes.jsa"
WORKLOADS = ("ml_sql", "ingest_epochs")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, for the rebuild fingerprint."""
    roots = [ROOT / "src" / "main", BENCH / "src"]
    singles = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties",
               BENCH / "run.py"]
    singles += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    files = [p for p in singles if p.is_file()]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def classpath():
    """Build if the sources changed since the last build; return the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources next to the benchmark (expected build.sbt and src/main/scala in {ROOT})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required to build and run the benchmark")
    WORK.mkdir(exist_ok=True)
    cp_file, fp_file = WORK / "classpath.txt", WORK / "build.fingerprint"
    fp = fingerprint()
    if cp_file.is_file() and fp_file.is_file() and fp_file.read_text() == fp:
        return cp_file.read_text().strip()
    print("perfbench: building program and benchmark (sbt)", file=sys.stderr)
    fp_file.unlink(missing_ok=True)
    CDS.unlink(missing_ok=True)
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    cps = [l.strip() for l in r.stdout.splitlines()
           if not l.startswith("[") and "perfbench" in l and os.pathsep in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-6000:])
        fail(f"build failed (sbt exit {r.returncode})", 3)
    cp = cps[-1]
    cp_file.write_text(cp + "\n")
    # the archive is dumped at the exit of one generator self-test run
    print("perfbench: writing the class-data-sharing archive", file=sys.stderr)
    run_jvm(cp, ["--mode", "gencheck", "--seed", "1", "--cores", str(cores()), "--work", str(WORK)],
            [f"-XX:ArchiveClassesAtExit={CDS}"], relay=False)
    fp_file.write_text(fp)
    return cp


def java_cmd(cp, args, jvm_opts):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if not jvm_opts and CDS.is_file():
        jvm_opts = [f"-XX:SharedArchiveFile={CDS}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    return (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + jvm_opts + opens + ["-cp", cp, "perfbench.Main"] + args)


def run_jvm(cp, args, jvm_opts=(), relay=True):
    """Run the JVM, relaying its stdout; return its exit code."""
    run_dir = WORK / "run"
    run_dir.mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(java_cmd(cp, args, list(jvm_opts)), cwd=run_dir,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"run exceeded {JVM_TIMEOUT_S} s", 4)
    if relay:
        sys.stdout.write(out)
        sys.stdout.flush()
    return proc.returncode


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = classpath()
    result = WORK / f"result-{a.workload}-{a.seed}-{a.trace}.json"
    result.unlink(missing_ok=True)
    code = run_jvm(cp, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores()),
        "--work", str(WORK), "--out", str(result)])
    if code != 0 or not result.is_file():
        fail(f"benchmark JVM exited with {code} and no result", 1)
    print(json.dumps(json.loads(result.read_text())))


if __name__ == "__main__":
    main()
