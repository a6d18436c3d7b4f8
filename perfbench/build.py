#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/src/main/scala)
into <build dir>/classes with the Scala compiler that ships in Spark's jars.

The Spark distribution is found through SPARK_HOME. A stamp over the source
paths and contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py [build dir, default .bench_build]
"""
import glob
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not pathlib.Path(home, "jars").is_dir():
        raise SystemExit("perfbench build: SPARK_HOME/jars not found")
    return pathlib.Path(home, "jars")


def sources():
    repo = sorted(glob.glob(str(ROOT / "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(str(BENCH / "src/main/scala/**/*.scala"), recursive=True))
    if not repo:
        raise SystemExit("perfbench build: no repository sources under src/main/scala")
    if not own:
        raise SystemExit("perfbench build: no benchmark sources")
    return repo + own


def ensure(build_dir):
    """Compile if needed; returns the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(pathlib.Path(s).read_bytes())
    stamp = h.hexdigest()
    classes = pathlib.Path(build_dir, "classes")
    stamp_file = pathlib.Path(build_dir, "classes.stamp")
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes

    def jar(prefix):
        found = sorted(jars.glob(prefix + "-2.13*.jar"))
        if not found:
            raise SystemExit(f"perfbench build: {prefix} jar not found in {jars}")
        return str(found[-1])

    compiler_cp = os.pathsep.join(jar(p) for p in
                                  ("scala-compiler", "scala-library", "scala-reflect"))
    tmp = pathlib.Path(build_dir, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = pathlib.Path(build_dir, "sources.txt")
    argfile.write_text("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", str(jars / "*"), "-d", str(tmp), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench build: scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    out = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build")
    out.mkdir(parents=True, exist_ok=True)
    print(ensure(out))
