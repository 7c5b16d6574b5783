"""Build file of the benchmark: compiles the engine and the benchmark.

The engine (`src/main/scala`, plus `src/main/resources`) and the benchmark
(`perfbench/src`) are compiled from source with the Scala compiler that
ships among the Spark jars named by `unmanagedBase` in `build.sbt` (or
`$SPARK_HOME/jars`). Classes go under `.bench_build/classes`; a stamp over
every input skips the compile when nothing changed.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: build.sbt names no unmanagedBase "
                     "directory and SPARK_HOME/jars is missing")


def _files(top, exts):
    out = []
    for ext in exts:
        out += glob.glob(os.path.join(top, "**", "*" + ext), recursive=True)
    return sorted(p for p in out if os.path.isfile(p))


def _stamp(root, paths, jars):
    h = hashlib.sha256()
    h.update(("\n".join(sorted(os.listdir(jars)))).encode())
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, out, sources, log):
    os.makedirs(out, exist_ok=True)
    args_file = out + ".args"
    with open(args_file, "w", encoding="utf-8") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-d", out, "-classpath", classpath,
           "-encoding", "UTF-8", "-nowarn", "@" + args_file]
    with open(log, "ab") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError(f"scalac failed (exit {r.returncode}); see {log}")


def build(root, build_dir):
    """Compile if needed; return the runtime classpath."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise BuildError(f"no engine sources under {main_src}")
    jars = spark_jars(root)
    program = _files(main_src, [".scala"])
    resources_dir = os.path.join(root, "src", "main", "resources")
    resources = _files(resources_dir, [""]) if os.path.isdir(resources_dir) else []
    bench = _files(os.path.join(BENCH_DIR, "src"), [".scala"])
    if not program or not bench:
        raise BuildError("no sources to compile")
    classes = os.path.join(build_dir, "classes")
    stamp = _stamp(root, program + resources + bench + [os.path.abspath(__file__)], jars)
    stamp_file = os.path.join(classes, "STAMP")
    jar_cp = os.path.join(jars, "*")
    cp = os.pathsep.join([os.path.join(classes, "bench"),
                          os.path.join(classes, "program"), jar_cp])
    if os.path.isfile(stamp_file):
        with open(stamp_file, encoding="utf-8") as f:
            if f.read().strip() == stamp:
                return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(build_dir, "build.log")
    open(log, "w").close()
    _scalac(jars, jar_cp, os.path.join(tmp, "program"), program, log)
    for r in resources:
        dst = os.path.join(tmp, "program", os.path.relpath(r, resources_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    _scalac(jars, os.pathsep.join([os.path.join(tmp, "program"), jar_cp]),
            os.path.join(tmp, "bench"), bench, log)
    with open(os.path.join(tmp, "STAMP"), "w", encoding="utf-8") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return cp


if __name__ == "__main__":
    try:
        print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
