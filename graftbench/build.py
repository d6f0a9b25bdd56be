"""Builds the program under test and the benchmark harness from source.

The repository's Scala sources (src/main/scala) compile to
<out>/classes/main with their resources; the harness (graftbench/src)
compiles against them to <out>/classes/bench. Both use the Scala
compiler shipped in the Spark distribution whose jars the repository's
build.sbt names as `unmanagedBase`, so nothing is resolved or
downloaded. A stamp over every input skips a build whose inputs did
not change.

Usage: python3 graftbench/build.py [out_dir]   (default: .bench_build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def spark_jars(root=ROOT):
    """The Spark jars the repository builds against."""
    sbt = root / "build.sbt"
    home = None
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            home = Path(m.group(1))
    if home is None and os.environ.get("SPARK_HOME"):
        home = Path(os.environ["SPARK_HOME"]) / "jars"
    if home is None or not home.is_dir():
        raise BuildError("cannot find the Spark jars (build.sbt unmanagedBase or SPARK_HOME)")
    jars = sorted(str(p) for p in home.glob("*.jar"))
    if not any("scala-compiler" in Path(j).name for j in jars):
        raise BuildError(f"no scala-compiler jar in {home}")
    return jars


def _stamp(paths, extra):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p).encode())
        h.update(Path(p).read_bytes())
    return h.hexdigest()


def _current(dest, stamp):
    f = dest / ".stamp"
    return f.is_file() and f.read_text() == stamp


def _scalac(jars, classpath, sources, dest, log):
    tmp = Path(str(dest) + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.parent / (tmp.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", ":".join(classpath), f"@{argfile}"]
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    argfile.unlink()
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed for {dest.name}; see {log}")
    return tmp


def _swap(tmp, dest):
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def build(out):
    """Compiles what changed; returns the harness classpath."""
    out = Path(out)
    main_src = ROOT / "src" / "main" / "scala"
    resources = ROOT / "src" / "main" / "resources"
    mains = sorted(main_src.rglob("*.scala")) if main_src.is_dir() else []
    if not mains:
        raise BuildError(f"no program sources under {main_src}")
    benches = sorted((BENCH / "src").rglob("*.scala"))
    jars = spark_jars()
    classes = out / "classes"
    classes.mkdir(parents=True, exist_ok=True)
    log = out / "build.log"

    main_dir, bench_dir = classes / "main", classes / "bench"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    main_stamp = _stamp(mains + res, "\n".join(Path(j).name for j in jars))
    if not _current(main_dir, main_stamp):
        tmp = _scalac(jars, jars, mains, main_dir, log)
        for p in res:
            dst = tmp / p.relative_to(resources)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(p, dst)
        (tmp / ".stamp").write_text(main_stamp)
        _swap(tmp, main_dir)
        shutil.rmtree(bench_dir, ignore_errors=True)

    bench_stamp = _stamp(benches, main_stamp)
    if not _current(bench_dir, bench_stamp):
        tmp = _scalac(jars, [str(main_dir)] + jars, benches, bench_dir, log)
        (tmp / ".stamp").write_text(bench_stamp)
        _swap(tmp, bench_dir)
    return [str(bench_dir), str(main_dir)] + jars


if __name__ == "__main__":
    try:
        build(Path(sys.argv[1]) if len(sys.argv) > 1 else ROOT / ".bench_build")
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
