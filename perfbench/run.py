#!/usr/bin/env python3
"""Runs one benchmark measurement of the engine in this checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from source with sbt when the sources
changed since the last build (the first run in a checkout), then runs the
harness in one JVM and prints its result record as the last stdout line.
Everything it writes stays under the build directory: $CARGO_TARGET_DIR
when set, else .bench_build, relative to the checkout root.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("mopso_blobs", "query_mix")
# the harness must finish within this many seconds once built, and the
# first run of a build, which also writes the class-data archive, within
# the longer time
RUN_TIMEOUT_S = 170
DUMP_RUN_TIMEOUT_S = 400
BUILD_TIMEOUT_S = 700
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a stale build is redone."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties",
              HERE / "run.py"]
    for top in (ROOT / "src" / "main", HERE / "src" / "main"):
        inputs += sorted(p for p in top.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(build_dir):
    """Compiles with sbt once per source state; returns the build's own
    directory and the classpath.

    sbt compiles into the target/ directories of the checkout, which any
    later sbt command there overwrites. So each build packs the class
    directories it exported into jars in its own directory, named by the
    source stamp, and the classpath names those jars. Jars, not
    directories, because the JVM's class-data archive (see main) only
    holds classes loaded from jars.
    """
    home = build_dir / "classpath" / source_stamp()[:20]
    cp_file = home / "classpath.txt"
    if cp_file.exists():
        return home, cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        fail(f"sbt build failed (exit {proc.returncode})", 3)
    cp = lines[-1].strip()
    missing = [e for e in cp.split(os.pathsep) if not Path(e).exists()]
    if missing:
        fail(f"build classpath names missing entries: {missing[:3]}", 3)
    shutil.rmtree(home, ignore_errors=True)
    home.mkdir(parents=True)
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        src = Path(e).resolve()
        if ROOT in src.parents:
            dst = home / f"{i}-{src.name}"
            if src.is_dir():
                zipped = shutil.make_archive(str(dst), "zip", src)
                dst = home / f"{i}-{src.name}.jar"
                os.replace(zipped, dst)
            else:
                shutil.copy2(src, dst)
            e = str(dst)
        entries.append(e)
    cp = os.pathsep.join(entries)
    cp_file.write_text(cp)  # written last: it marks a complete copy
    return home, cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() \
            or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT}: run from a full checkout")

    build_dir = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not build_dir.is_absolute():
        build_dir = ROOT / build_dir
    home, cp = build(build_dir)

    work = build_dir / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # The first run of a build dumps the classes it loaded into a class-data
    # archive, and later runs map it instead of loading and verifying each
    # class again: JVM and session start take about 5 s less. Only the
    # first set-up is shortened; the metrics are taken in a warm JVM.
    jsa = home / "classes.jsa"
    dump = work / "classes.jsa"
    cds = (f"-XX:SharedArchiveFile={jsa}" if jsa.exists()
           else f"-XX:ArchiveClassesAtExit={dump}")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", cds,
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(work)]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    timeout = RUN_TIMEOUT_S if jsa.exists() else DUMP_RUN_TIMEOUT_S
    # a SIGTERM to this script also ends the harness, through the except
    # clause below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"harness did not finish within {timeout}s", 4)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    else:
        if proc.returncode == 0 and dump.exists():
            os.replace(dump, jsa)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"harness exited {proc.returncode}", 5)
    record = json.loads(lines[-1])
    if set(record) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result record: {lines[-1]}", 5)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
