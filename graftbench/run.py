"""Runs one benchmark workload and prints its result as the last line.

    python3 graftbench/run.py --workload zeek_scan --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source into .bench_build
(skipped when nothing changed), generates the SQL tables once, then runs
the harness JVM. The harness generates the workload's Zeek corpus from
the seed, times the workload, checks every output and prints a record
line and a result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (see graftbench/README.md). Exits non-zero without a
result when the build, the inputs or the harness fail.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build as builder  # noqa: E402
import gen_tables  # noqa: E402

# graph_iter runs by hand only: at ~3 s per query it does not fit the
# benchmark's run budget (see README.md)
WORKLOADS = ("zeek_scan", "zeek_recompress", "headline_sql", "graph_iter")
TABLE_SF = 0.02
TABLE_SEED = 42
JVM_TIMEOUT_S = 170
# a fixed heap and young generation keep peak RSS from following G1's
# adaptive sizing from run to run
HEAP = "3g"
YOUNG = "1g"

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt's javaOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def tables(build_dir, sf):
    """The generated parquet tables at scale `sf`, made once per checkout."""
    d = build_dir / "tables" / f"sf{sf}"
    if (d / ".done").is_file():
        return d
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    gen_tables.generate(str(tmp), sf, TABLE_SEED)
    (tmp / ".done").write_text(f"sf={sf} seed={TABLE_SEED}\n")
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    return 2


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (ROOT / "src" / "main" / "scala").is_dir():
        return fail(f"no program sources under {ROOT / 'src/main/scala'}; "
                    "run from a full checkout of the repository")
    build_dir = ROOT / ".bench_build"
    try:
        classpath = builder.build(build_dir)
    except builder.BuildError as e:
        return fail(str(e))
    target = tables(build_dir, TABLE_SF)

    name = f"{a.workload}-{a.seed}-trace{a.trace}"
    work = build_dir / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = build_dir / "logs"
    logs.mkdir(exist_ok=True)
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", ":".join(classpath), "graftbench.Harness",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cpus", str(len(os.sched_getaffinity(0))),
           "--tables", str(target), "--work", str(work),
           "--expected", str(HERE / "expected.tsv")]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(logs / f"{name}.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env, cwd=work,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return fail(f"harness timed out after {JVM_TIMEOUT_S} s; see {log.name}")
        finally:
            for spans in work.glob("spans-*.jsonl"):
                (build_dir / "traces").mkdir(exist_ok=True)
                shutil.move(str(spans), build_dir / "traces" / f"{name}.jsonl")
            shutil.rmtree(work, ignore_errors=True)

    lines = out.decode().splitlines()
    if proc.returncode != 0 or not lines:
        return fail(f"harness exited {proc.returncode}; see {logs / (name + '.log')}")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        return fail(f"harness printed no result; see {logs / (name + '.log')}")
    records = [ln for ln in lines[:-1] if ln.startswith("# record ")]
    with open(build_dir / "records.jsonl", "a") as rf:
        for r in records:
            rf.write(r[len("# record "):] + "\n")
    for r in records:
        print(r)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
