#!/usr/bin/env python3
"""BAM-ingest benchmark of the program in this repository.

    python3 perfbench/run.py --workload <scan|splits|intervals|rewrite> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (once per source state),
generates the seeded inputs (cached per seed), runs one workload in one
JVM, and prints as its last line one JSON object with `correct`,
`attempted`, `failed` and `metrics` (units from BENCHMARK.json). With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. `--selftest` runs the benchmark's own tests of its checks.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MAIN_SRC = ROOT / "src" / "main" / "scala"
MAIN_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"
WORK = HERE / "work"

INPUT_KIND = {"scan": "unsorted", "splits": "unsorted", "intervals": "sorted", "rewrite": "sorted"}
# generated inputs kept per kind; older seeds are deleted
KEEP_INPUTS = 2
RUN_TIMEOUT_S = 170
# the same heap and collector for every run; no perf-data file outside the checkout
BENCH_JVM = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
# Spark on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("Spark jars not found: set SPARK_HOME")
    return Path(home) / "jars"


def sources():
    files = sorted(MAIN_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not MAIN_SRC.is_dir() or not files or not BENCH_SRC.is_dir():
        fail(f"program sources not found under {MAIN_SRC.relative_to(ROOT)}")
    return files


def build(jars):
    """Compile the program's main sources with the benchmark's into one
    class directory keyed by a hash of every source file."""
    files = sources()
    resources = sorted(p for p in MAIN_RES.rglob("*") if p.is_file()) if MAIN_RES.is_dir() else []
    h = hashlib.sha256()
    for f in files + resources:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = WORK / "build" / h.hexdigest()[:16]
    if (out / "BUILT").exists():
        return out
    tmp = WORK / "build" / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    log = WORK / "logs" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", cp] + [str(f) for f in files]
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        print(log.read_text()[-4000:], file=sys.stderr)
        fail("build failed")
    for f in resources:
        dst = tmp / f.relative_to(MAIN_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dst)
    (tmp / "BUILT").touch()
    for old in (WORK / "build").iterdir():
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


def classpath(classes, jars):
    return f"{classes}{os.pathsep}{jars}/*"


def inputs(kind, seed, classes, jars):
    """The generated input of `kind` for `seed`, made on first use by the
    generator of this build."""
    root = WORK / "data" / classes.name
    d = root / f"{kind}-{seed}"
    if (d / "GENERATED").exists():
        (d / "GENERATED").touch()
        return d
    root.mkdir(parents=True, exist_ok=True)
    for other in root.parent.iterdir():
        if other != root:
            shutil.rmtree(other, ignore_errors=True)
    ready = sorted((p for p in root.glob(f"{kind}-*") if (p / "GENERATED").exists()),
                   key=lambda p: (p / "GENERATED").stat().st_mtime)
    stale = [p for p in root.glob(f"{kind}-*") if not (p / "GENERATED").exists()]
    for old in ready[:max(0, len(ready) - (KEEP_INPUTS - 1))] + stale:
        shutil.rmtree(old, ignore_errors=True)
    tmp = root / f"{kind}-{seed}.tmp"
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", classpath(classes, jars),
           "graft.perfbench.Gen", kind, str(seed), str(tmp)]
    r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True, timeout=300)
    if r.returncode != 0:
        print(r.stderr[-4000:], file=sys.stderr)
        fail(f"input generation failed for {kind} seed {seed}")
    # write the input out now, not while the measured run reads it
    for f in tmp.iterdir():
        with open(f, "rb") as fh:
            os.fsync(fh.fileno())
    (tmp / "GENERATED").touch()
    tmp.rename(d)
    return d


def jvm(main, args, classes, jars, log, timeout):
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", *BENCH_JVM, *ADD_OPENS, f"-Djava.io.tmpdir={WORK / 'tmp'}",
           "-cp", classpath(classes, jars), main] + [str(a) for a in args]
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as lf:
        try:
            return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{main} did not finish within {timeout:.0f} s (log: {log.relative_to(ROOT)})")


def tail(log):
    return "\n".join(log.read_text(errors="replace").splitlines()[-40:])


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(INPUT_KIND))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found")
    spec = json.loads(spec_path.read_text())
    jars = spark_jars()
    t_build = time.monotonic()
    classes = build(jars)
    start += time.monotonic() - t_build  # a build may take longer than a run

    if a.selftest:
        log = WORK / "logs" / "selftest.log"
        r = jvm("graft.perfbench.SelfTest", [WORK / "selftest"], classes, jars, log, 600)
        print(r.stdout, end="")
        if r.returncode != 0:
            print(tail(log), file=sys.stderr)
        sys.exit(r.returncode)
    if not a.workload:
        ap.error("--workload is required")

    data = inputs(INPUT_KIND[a.workload], a.seed, classes, jars)
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    log = WORK / "logs" / f"{a.workload}-{a.seed}-{a.trace}.log"
    r = jvm("graft.perfbench.Bench", [a.workload, data, run_dir, a.seconds, a.trace, cores],
            classes, jars, log, max(30, RUN_TIMEOUT_S - (time.monotonic() - start)))
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH ")]
    for l in r.stdout.splitlines():
        if l.startswith("# "):
            print(l)
    if r.returncode != 0 or not lines:
        print(tail(log), file=sys.stderr)
        fail(f"benchmark JVM exited with {r.returncode} and no result")
    res = json.loads(lines[-1][len("PERFBENCH "):])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            print(tail(log), file=sys.stderr)
            fail(f"metric {m['name']} missing or not a number: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
