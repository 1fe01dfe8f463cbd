#!/usr/bin/env python3
"""Re-record `refs.tsv`, the reference fingerprints the benchmark checks
every batch query against. Needed only when the generated tables or a
query's intended output change.

    python3 perfbench/record_refs.py

Builds the runner, writes the tables, dumps every registered query with
graft.Verify, compares the dumps with the DuckDB oracle
(tools/check_oracle.py), then fingerprints every query (row count plus an
order-insensitive hash of all columns) and writes each with the oracle's
verdict. A query whose verdict is not "pass" stays in refs.tsv; the
benchmark counts it as failed wherever it runs.
"""
import os
import subprocess
import sys

import run

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    build_dir = os.path.abspath(os.path.join(run.ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    classes = run.build(build_dir, run.source_sha())
    tables = run.data(build_dir)
    java = (["java"] + [x for p in run.JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            [f"-Xmx{run.HEAP}", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", os.pathsep.join([classes, os.path.join(run.spark_home(), "jars", "*")])])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS="4")
    dump = os.path.join(build_dir, "verify")
    subprocess.run(java + ["graft.Verify", tables, dump], check=True, cwd=tmp, env=env)
    verdicts = os.path.join(build_dir, "oracle.txt")
    with open(verdicts, "w") as f:
        subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"), tables, dump],
                       stdout=f, cwd=run.ROOT)
    subprocess.run(java + ["perfbench.Main", "--workload", "record_refs", "--seed", "0",
                           "--data", tables, "--record", os.path.join(build_dir, "refs-record.json"),
                           "--refs", os.path.join(HERE, "refs.tsv"), "--cpus", "4",
                           "--oracle", verdicts], check=True, cwd=tmp, env=env)
    print(open(verdicts).read().splitlines()[-1])


if __name__ == "__main__":
    main()
