#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout.  The first call builds the engine and
the benchmark with sbt (offline) and caches the classpath under
perfbench/.work; later calls reuse the build until a source or build file
changes.  The workload then runs in one JVM (Spark local[4]) and the last
line printed is one JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics, or per-layer metrics with --trace 1).

Workloads: reindex_solr, reindex_files, registry_slice (see
perfbench/README.md).  `--record` with registry_slice rewrites the
expected registry hashes instead of measuring.

Everything the run writes stays under perfbench/.work, and the exit code
is non-zero, without a result line, on any failure to build or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("reindex_solr", "reindex_files", "registry_slice")
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
BUILD = WORK / "build"
# a fixed heap, so the process footprint does not depend on when G1
# decides to grow it
HEAP = "3g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (the list Spark's launcher passes).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {cmd[0]}")
    return p.returncode, out


def classpath():
    """Build once per source stamp; return the runtime classpath."""
    BUILD.mkdir(parents=True, exist_ok=True)
    s = stamp()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == s:
        return cp_file.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    log = BUILD / "sbt.log"
    with open(log, "wb") as f:
        code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=f,
                            stderr=subprocess.STDOUT)
    lines = log.read_text(errors="replace").splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if code != 0 or not cps:
        fail(f"build failed (exit {code}); see {log}")
    cp_file.write_text(cps[-1].strip())
    stamp_file.write_text(s)
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (expected build.sbt and src/main/scala/graft)", 2)

    cp = classpath()
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp / 'spark'}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--root", str(ROOT), "--work", str(run_dir)]
    if a.record:
        cmd.append("--record")
    log = WORK / f"last-{a.workload}.log"
    try:
        with open(log, "wb") as err:
            code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, stderr=err)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"workload exited {code}; see {log}")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"no result line; see {log}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
