#!/usr/bin/env python3
"""Run one graphspark benchmark workload.

    python3 graftbench/run.py --workload uniform_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark program from source with sbt (graftbench/build.sbt depends on the
repository's own build); later runs reuse the build while no source file
changed. Inputs are generated per workload and seed and cached under
graftbench/work/inputs; per-run artifacts go to graftbench/work/runs. The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""

import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "work"
BUILD = BENCH / "target" / "graftbench-build"
WORKLOADS = ("zipf_shuffle_ckpt", "uniform_serve")
HEAP = "4g"
KEEP_INPUTS = 6  # cached input directories kept per workload
DEADLINE_S = 175  # a run, build excluded, must end within this
SCRATCH = ("spark", "checkpoints", "catalog", "ingested", "tmp")

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edited engine rebuilds."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for src in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw identical sources;
    returns the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if (cp_file.is_file() and stamp_file.is_file()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if "scala-library" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def java(cp, args, timeout):
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(WORK / "spark" / "spark-local")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except BaseException:
        proc.kill()
        proc.wait()
        raise


def prune_inputs(workload, keep):
    dirs = sorted((WORK / "inputs").glob(f"{workload}-seed*"),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for d in dirs:
        if d != keep and dirs.index(d) >= KEEP_INPUTS:
            shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not ((ROOT / "build.sbt").is_file()
            and (ROOT / "src" / "main" / "scala").is_dir()):
        fail(f"engine sources not found under {ROOT}; run from a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build()
    start = time.monotonic()
    inputs = WORK / "inputs" / f"{a.workload}-seed{a.seed}"
    # input generation runs in its own JVM, so the measured JVM starts in
    # the same state whether or not the input was cached
    for step in (["prepare", a.workload, str(a.seed), str(inputs)],
                 ["run", a.workload, str(a.seed), str(a.seconds),
                  str(a.trace), str(inputs), str(WORK)]):
        for scratch in SCRATCH:
            shutil.rmtree(WORK / scratch, ignore_errors=True)
        code = java(cp, step, DEADLINE_S - (time.monotonic() - start))
        if code != 0:
            break
    for scratch in SCRATCH:
        shutil.rmtree(WORK / scratch, ignore_errors=True)
    if inputs.is_dir():
        os.utime(inputs)
        prune_inputs(a.workload, inputs)
    sys.exit(code)


if __name__ == "__main__":
    main()
