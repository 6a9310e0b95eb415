#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources and the benchmark's
own sources with the Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py        # prints the classpath it built

Outputs go to .bench_build/ at the repository root, keyed by a hash of the
sources, so an unchanged tree is compiled once. Nothing is fetched: the
compiler, the Scala library and Spark all come from $SPARK_HOME/jars, or
else from the jars directory build.sbt names as its `unmanagedBase`.
"""
import functools
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


@functools.lru_cache(maxsize=None)
def spark_jars():
    """$SPARK_HOME/jars, else the directory build.sbt's unmanagedBase names."""
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jars directory")
    return pathlib.Path(m.group(1))


def spark_classpath():
    jars = sorted(spark_jars().glob("*.jar"))
    if not jars:
        raise BuildError(f"no jars under {spark_jars()}")
    return jars


def sources(base):
    return sorted(p for p in base.rglob("*.scala") if p.is_file())


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(srcs, out, classpath):
    jars = spark_classpath()
    compiler = [str(j) for j in jars if j.name.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    if len(compiler) < 3:
        raise BuildError(f"scala compiler jars missing under {spark_jars()}")
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp.with_name(tmp.name + ".args")
    args.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", ":".join(classpath), f"@{args}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    args.unlink()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    tmp.rename(out)


def build():
    """Compile what changed; return the run classpath as a list of paths."""
    graft_srcs = sources(ROOT / "src" / "main" / "scala")
    if not graft_srcs:
        raise BuildError(f"no graft sources under {ROOT / 'src' / 'main' / 'scala'}")
    bench_srcs = sources(HERE / "src")
    if not bench_srcs:
        raise BuildError("no benchmark sources")
    spark = [str(j) for j in spark_classpath()]
    graft_key = digest(graft_srcs, spark_jars().as_posix())
    graft_out = OUT / f"graft-{graft_key}"
    if not graft_out.is_dir():
        print(f"compiling {len(graft_srcs)} graft sources", file=sys.stderr, flush=True)
        scalac(graft_srcs, graft_out, spark)
    bench_out = OUT / f"perfbench-{digest(bench_srcs, graft_key)}"
    if not bench_out.is_dir():
        print(f"compiling {len(bench_srcs)} benchmark sources", file=sys.stderr, flush=True)
        scalac(bench_srcs, bench_out, [str(graft_out)] + spark)
    return [str(bench_out), str(graft_out), str(spark_jars() / "*")]


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
