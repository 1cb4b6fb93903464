"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark (`perfbench/src`) from source with the Scala compiler
that ships among the Spark jars, into `.bench_build/perfbench/`. The jar
directory is the one the program's `build.sbt` names as `unmanagedBase`.

Each part is rebuilt only when a stamp over its sources (and, for the
benchmark, the program's stamp) changes.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

def spark_jar_dir(root):
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def spark_classpath(root):
    jar_dir = spark_jar_dir(root)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise RuntimeError(f"no Scala compiler among the jars in {jar_dir}")
    return jars


def sources(root, sub):
    return sorted(glob.glob(os.path.join(root, sub, "**", "*.scala"), recursive=True))


def stamp(root, files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_into(out, srcs, classpath, st):
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == st:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise RuntimeError(f"scalac failed on {len(srcs)} sources into {out}")
    with open(stamp_file, "w") as fh:
        fh.write(st)
    return True


def build(root):
    """Returns (program classes dir, benchmark classes dir, program source stamp)."""
    main_srcs = sources(root, "src/main/scala")
    if not main_srcs:
        raise FileNotFoundError(f"no program sources under {root}/src/main/scala")
    jars = spark_classpath(root)
    out = os.path.join(root, ".bench_build", "perfbench")
    main_out, bench_out = os.path.join(out, "main"), os.path.join(out, "bench")
    main_stamp = stamp(root, main_srcs)
    compile_into(main_out, main_srcs, jars, main_stamp)
    bench_srcs = sources(root, "perfbench/src")
    compile_into(bench_out, bench_srcs, [main_out] + jars, stamp(root, bench_srcs, main_stamp))
    return main_out, bench_out, main_stamp


if __name__ == "__main__":
    print(build(os.getcwd()))
