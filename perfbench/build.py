"""Build file of the benchmark: compiles the project's main sources together
with the benchmark's own JVM sources (`perfbench/src`) into one class
directory, without sbt and without touching the project's build.

The Scala compiler and the Spark jars come from the Spark distribution the
project builds against: `$SPARK_HOME/jars`, else the directory `build.sbt`
names as `unmanagedBase`. A build is reused while the hash of every input
file is unchanged.

Usage: python3 perfbench/build.py [--out DIR]   (run from the repo root)
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def _walk(top, suffixes):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffixes)]
    return sorted(out)


def inputs():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"project sources not found under {main}")
    sources = _walk(main, (".scala", ".java")) + _walk(os.path.join(HERE, "src"), (".scala",))
    res_root = os.path.join(ROOT, "src", "main", "resources")
    resources = _walk(res_root, ("",)) if os.path.isdir(res_root) else []
    return sources, res_root, resources


def build(out=DEFAULT_OUT, quiet=True):
    """Compile if any input changed; return the class directory."""
    sources, res_root, resources = inputs()
    jars = jar_dir()
    h = hashlib.sha256(jars.encode())
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{s}"' for s in sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    if not quiet:
        print(f"built {len(sources)} sources into {classes}", file=sys.stderr)
    return classes


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=DEFAULT_OUT)
    a = ap.parse_args()
    try:
        build(a.out, quiet=False)
    except BuildError as e:
        sys.exit(f"build failed: {e}")
