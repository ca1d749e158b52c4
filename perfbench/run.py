#!/usr/bin/env python3
"""Run one workload of the propius core-pipeline benchmark.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the harness from the checkout's sources with sbt
(once per source state; the classpath and the class-data archive of the
harness JVM are kept in .bench_build/), runs the harness in its own JVM,
writes the run's full record under
.bench_build/results/, and ends stdout with one JSON line per metric and
then the summary line {"correct", "attempted", "failed", "metrics"}.
Workloads, shapes and seeds are described in perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# Class-data archive of the benchmark JVM. The build writes it at the exit of
# one short run, and every measured run maps it instead of loading and
# verifying the ~10k Spark and engine classes again (several seconds of every
# run's start), so all runs of one build start the same way.
ARCHIVE = os.path.join(BUILD, "classes.jsa")
CONFIG = os.path.join(HERE, "workloads.json")
# A checkout's first run builds and then runs, within 900 s in all.
BUILD_TIMEOUT_S = 400
DUMP_TIMEOUT_S = 300
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally adds (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    return p.returncode, out


def jvm_command(cp, work, archive_flag):
    """The harness JVM, with its scratch under `work`."""
    # A fixed heap and young generation keep the JVM's resident set from
    # following G1's adaptive sizing, so peak_rss_mb tracks what the engine
    # keeps live rather than when the collector chose to grow.
    jvm = ["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseG1GC", archive_flag,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.graft.scratch={os.path.join(work, 'scratch')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
           "-Dlog4j2.level=ERROR", "-Xlog:disable", "-Xlog:all=warning:stderr"]
    for m in ADD_OPENS:
        jvm += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return jvm + ["-cp", cp, "perfbench.Main", "--config", CONFIG, "--work", work]


def run_jvm(cmd, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        return run_bounded(cmd, timeout, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def classpath():
    """Build when the sources changed; return the runtime classpath.

    A build compiles with sbt, then runs one workload once with
    -XX:ArchiveClassesAtExit to write the class-data archive."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    want = digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and os.path.exists(ARCHIVE):
        with open(stamp) as s, open(cp_file) as c:
            if s.read() == want:
                return c.read()
    for f in (stamp, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    # sbt's per-user state (global settings, extracted JDK classes) goes
    # under .bench_build too, so a build writes only inside the checkout.
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
         "export Runtime/fullClasspathAsJars"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [l for l in out.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail("build failed")
    cp = lines[-1].strip()
    # One short run of ingest_serve records the classes a run loads (most
    # of build_dense's too); its result is not used.
    work = os.path.join(BUILD, "work", f"archive-{os.getpid()}")
    run_jvm(jvm_command(cp, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}") +
            ["--out", os.path.join(work, "record.json"), "--workload", "ingest_serve",
             "--seed", "1", "--seconds", "0", "--trace", "0"], work, DUMP_TIMEOUT_S)
    if not os.path.exists(ARCHIVE):
        fail("the class-data archive was not written")
    with open(cp_file, "w") as c:
        c.write(cp)
    with open(stamp, "w") as s:
        s.write(want)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources (src/main/scala/graft) next to the benchmark")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    with open(CONFIG) as f:
        workloads = json.load(f)["workloads"]
    if not a.selftest and a.workload not in workloads:
        fail(f"--workload must be one of {sorted(workloads)}")

    cp = classpath()
    tag = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    record = os.path.join(BUILD, "results", f"{tag}.json")
    jvm = jvm_command(cp, work, f"-XX:SharedArchiveFile={ARCHIVE}")
    if a.selftest:
        code, out = run_jvm(jvm + ["--selftest"], work, DUMP_TIMEOUT_S)
        print(out, end="")
        sys.exit(code)
    jvm += ["--out", record, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]
    code, out = run_jvm(jvm, work, RUN_TIMEOUT_S)
    lines = out.splitlines()
    try:
        last = json.loads(lines[-1])
        ok = code == 0 and set(last) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    if not ok:
        sys.stderr.write(out)
        fail(f"the run did not finish (exit code {code})")
    print("\n".join(lines[-(len(last["metrics"]) + 2):]))


if __name__ == "__main__":
    main()
