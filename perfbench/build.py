#!/usr/bin/env python3
"""WireBench's build: compile the server (src/main/scala) and the bench
(perfbench/src) together with scalac from the jar directory build.sbt
names. No sbt, so nothing is resolved or written outside the checkout.

    python3 perfbench/build.py      # from the root of a checkout

Classes land in $CARGO_TARGET_DIR/wirebench/classes (default
.bench_build); a stamp of the sources skips rebuilding unchanged code.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
T0 = time.monotonic()


class BenchError(Exception):
    pass


def log(msg):
    print(f"[wirebench {time.monotonic() - T0:6.2f}] {msg}", file=sys.stderr, flush=True)


def build_dir(root):
    return os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                        "wirebench"))


def spark_jars(root):
    """The jar directory build.sbt compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BenchError("no Spark jar directory with a scala-compiler jar")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main or not bench:
        raise BenchError("sources missing: run from the root of a full checkout")
    return main + bench


def build(root, bdir, jars):
    """Compile if the sources changed; returns (classes dir, source stamp)."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(bdir, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(bdir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{p}"' for p in srcs))
    comp = [glob.glob(os.path.join(jars, f"scala-{n}-2*.jar"))[0]
            for n in ("compiler", "library", "reflect")]
    log("compiling server and bench sources")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(comp),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
                        "-d", tmp, "@" + argfile], cwd=root, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    log("compiled")
    return classes, stamp


def main():
    root = os.getcwd()
    try:
        sources(root)
        jars = spark_jars(root)
        bdir = build_dir(root)
        os.makedirs(bdir, exist_ok=True)
        print(build(root, bdir, jars)[0])
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        sys.exit(2)


if __name__ == "__main__":
    main()
