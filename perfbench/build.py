"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars, into .bench_build/classes.

The two trees compile into separate directories so that the program's
classes hash (graft.Bench.classesSha) covers the program only. A build
is skipped when a digest of every source file matches the last one.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
OUT = ROOT / ".bench_build" / "classes"
PRODUCT_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"


def spark_jars():
    """The Spark jars to compile and run against: $SPARK_HOME/jars, else
    the directory the repository's own build uses (`unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                   sbt.read_text())
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no jars")
    return pathlib.Path(m.group(1))


def sources(tree):
    return sorted(p for p in tree.rglob("*.scala") if p.is_file())


def digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def scalac(srcs, out, cp, log):
    out.mkdir(parents=True, exist_ok=True)
    args = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
            "-cp", str(spark_jars() / "*"),
            "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", str(out)]
    if cp:
        args += ["-classpath", str(cp)]
    args += [str(p) for p in srcs]
    with open(log, "ab") as f:
        rc = subprocess.run(args, stdout=f, stderr=subprocess.STDOUT,
                            timeout=800).returncode
    if rc != 0:
        raise SystemExit(f"build: scalac failed for {out.name}, see {log}")


def build():
    """Compile what changed; return (product_dir, bench_dir)."""
    product, bench = OUT / "product", OUT / "bench"
    prod_src, bench_src = sources(PRODUCT_SRC), sources(BENCH_SRC)
    if not prod_src:
        raise SystemExit("build: no program sources under src/main/scala")
    OUT.mkdir(parents=True, exist_ok=True)
    log = OUT / "build.log"
    # the benchmark's stamp includes the program's, so a program rebuild
    # always rebuilds the benchmark against it
    prod_want = digest(prod_src)
    steps = ((prod_src, product, None, prod_want),
             (bench_src, bench, product, digest(bench_src) + prod_want))
    for srcs, out, cp, want in steps:
        stamp = out / "STAMP"
        if not stamp.exists() or stamp.read_text() != want:
            shutil.rmtree(out, ignore_errors=True)
            scalac(srcs, out, cp, log)
            stamp.write_text(want)
    return product, bench


if __name__ == "__main__":
    build()
    print("build ok", file=sys.stderr)
