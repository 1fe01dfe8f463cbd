#!/usr/bin/env python3
"""graft's benchmark: one workload per run, from the root of a source tree.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the runner from source (once per source state, into
$CARGO_TARGET_DIR, default `.bench_build`), writes the input tables (once),
then starts the runner in a fresh JVM. Its record, one row per
operation, lands in `<build dir>/records/`; the last line of stdout is the
JSON result. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("explain_session", "query_batch")
SF = "0.01"              # scale factor of the generated tables (see README)
# The runner's heap is fixed and touched up front, so peak RSS does not
# depend on when G1 chooses to grow the heap; it is recorded in every record.
HEAP = "2g"
RUN_TIMEOUT_S = 170      # a run is stopped before three minutes
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources() -> list:
    """Every file the build reads, in a stable order."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def source_sha() -> str:
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_child(cmd, timeout, **kw) -> subprocess.CompletedProcess:
    """Runs a child to completion; on timeout kills it and waits for it."""
    p = subprocess.Popen(cmd, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        p.kill()
        p.wait()
        raise
    return subprocess.CompletedProcess(cmd, p.returncode, out, None)


def build(build_dir: str, sha: str) -> str:
    """Compiles graft and the runner unless this source state is built."""
    classes = os.path.join(build_dir, "sbt", "scala-2.13", "classes")
    stamp = os.path.join(build_dir, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == sha and os.path.isdir(classes):
        return classes
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(build_dir, "sbt"))
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}", "clean", "compile"]
    r = run_child(cmd, 840, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(sha)
    return classes


def data(build_dir: str) -> str:
    out = os.path.join(build_dir, "data", f"sf{SF}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        r = run_child([sys.executable, os.path.join(HERE, "gen_data.py"), out, SF], 300,
                      stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail("table generation failed")
    return out


def spark_home() -> str:
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def main() -> None:
    # a termination request unwinds through run_child, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala: run from the root of a graft source tree")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sha = source_sha()
    classes = build(build_dir, sha)
    tables = data(build_dir)
    # two cores for tasks leave the rest to the driver thread, JIT and GC
    cpus = min(2, len(os.sched_getaffinity(0)))
    record = os.path.join(build_dir, "records",
                          f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join([classes, os.path.join(spark_home(), "jars", "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", tables,
            "--record", record, "--refs", os.path.join(HERE, "refs.tsv"), "--cpus", str(cpus),
            "--heap", HEAP, "--git_sha", git_sha(), "--source_sha", sha, "--sf", SF])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    try:
        r = run_child(cmd, RUN_TIMEOUT_S, cwd=tmp, env=env, stdout=subprocess.PIPE,
                      stderr=sys.stderr, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(r.stdout)
        fail(f"runner failed (exit {r.returncode})")
    print(f"record: {os.path.relpath(record, ROOT)}")
    print(lines[-1])


if __name__ == "__main__":
    main()
