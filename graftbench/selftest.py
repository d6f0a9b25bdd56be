"""Self-test of the benchmark harness.

    python3 graftbench/selftest.py

Checks that the same seed gives byte-identical SQL tables, Zeek corpora
and leg answers (and another seed does not), and that the tail
percentile picker keeps at least ten samples beyond `op_tail_s`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build as builder  # noqa: E402
import gen_tables  # noqa: E402
from run import ADD_OPENS  # noqa: E402


def tree_sha(d):
    h = hashlib.sha256()
    for p in sorted(Path(d).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(d)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def main():
    build_dir = ROOT / ".bench_build"
    work = build_dir / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    failures = []
    shas = {}
    for name, seed in (("a", 42), ("b", 42), ("c", 43)):
        gen_tables.generate(str(work / f"tables-{name}"), 0.001, seed)
        shas[name] = tree_sha(work / f"tables-{name}")
    if shas["a"] != shas["b"]:
        failures.append("same seed, different tables")
    if shas["a"] == shas["c"]:
        failures.append("another seed, same tables")

    classpath = builder.build(build_dir)
    jvm = subprocess.run(["java", *ADD_OPENS, "-Xmx1g", "-cp", ":".join(classpath),
                          "graftbench.Harness", "--selftest", "1", "--work", str(work / "corpus")],
                         capture_output=True, text=True)
    print(jvm.stdout.strip())
    if jvm.returncode != 0:
        failures.append(f"harness self-test exited {jvm.returncode}: {jvm.stderr[-300:]}")
    shutil.rmtree(work, ignore_errors=True)
    print("tables sha256:", shas["a"])
    print("selftest", "ok" if not failures else "FAILED: " + "; ".join(failures))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
