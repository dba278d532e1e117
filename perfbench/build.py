#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark harness
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory, into `<build>/classes/{main,bench}`. No sbt, no network: the only
class path is Spark's jars. Stamps over the sources skip a build when
nothing changed; a harness edit recompiles only the harness.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars(repo_root="."):
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the program's own build.sbt compiles against."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(repo_root, "build.sbt")
        if os.path.exists(sbt):
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
            jars = m and m.group(1)
    if not jars or not os.path.isdir(jars) or not any(
            f.startswith("scala-compiler") for f in os.listdir(jars)):
        raise BuildError(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def sources(root, suffix=".scala"):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def fresh(out, want):
    f = out + ".stamp"
    if not (os.path.isdir(out) and os.path.exists(f)):
        return False
    with open(f) as fh:
        return fh.read() == want


def write_stamp(out, value):
    with open(out + ".stamp", "w") as fh:
        fh.write(value)


def scalac(files, out, classpath, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out] + files
    with open(log, "ab") as fh:
        rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise BuildError(f"scalac failed ({rc}) for {out}:\n{tail}")


def build(build_dir, repo_root="."):
    """Returns (main_classes, bench_classes, jars); builds when stale."""
    main_src = os.path.join(repo_root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise BuildError(f"program sources not found at {main_src}")
    jars = spark_jars(repo_root)
    main_files = sources(main_src)
    # resources ride along: the paged source registers through META-INF/services
    res_root = os.path.join(repo_root, "src", "main", "resources")
    resources = sources(res_root, "") if os.path.isdir(res_root) else []
    bench_files = sources(os.path.join(BENCH_DIR, "src"))
    if not main_files or not bench_files:
        raise BuildError("no Scala sources to build")
    main_out = os.path.join(build_dir, "classes", "main")
    bench_out = os.path.join(build_dir, "classes", "bench")
    log = os.path.join(build_dir, "build.log")
    os.makedirs(build_dir, exist_ok=True)
    # the program and the harness have stamps of their own: a harness edit
    # recompiles only the harness
    main_stamp = stamp(main_files + resources, jars)
    if not fresh(main_out, main_stamp):
        shutil.rmtree(os.path.join(build_dir, "classes"), ignore_errors=True)
        open(log, "w").close()
        scalac(main_files, main_out, os.path.join(jars, "*"), log)
        for r in resources:
            dst = os.path.join(main_out, os.path.relpath(r, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        write_stamp(main_out, main_stamp)
    bench_stamp = stamp(bench_files, main_stamp)
    if not fresh(bench_out, bench_stamp):
        shutil.rmtree(bench_out, ignore_errors=True)
        scalac(bench_files, bench_out, main_out + os.pathsep + os.path.join(jars, "*"), log)
        write_stamp(bench_out, bench_stamp)
    return main_out, bench_out, jars


def main():
    try:
        print(build(BUILD_DIR))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
