"""Build file of the snapshot benchmark.

Compiles the repository's main sources and the benchmark's instruments with
the Scala compiler that ships beside Spark, into `.bench_build/classes`. The
Scala version, the jar directory and the JVM flags are read from the
repository's `build.sbt`, so the benchmark runs the program as its build
defines it. A build is skipped when no source has changed since the last one.

    python3 snapbench/build.py        # prints the classpath
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


class BuildError(Exception):
    pass


def sbt_settings():
    """Scala version, jar directory and forked-JVM flags from build.sbt."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError(f"no build.sbt at {ROOT}")
    text = open(path, encoding="utf-8").read()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not (version and jars):
        raise BuildError("build.sbt sets no scalaVersion or unmanagedBase")
    opens = re.findall(r'"(java\.base/[^"]+)"', text)
    flags = [f for f in re.findall(r'"(-(?:XX|D)[^"]+)"', text)]
    jvm = [a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + flags
    return version.group(1), jars.group(1), jvm


def _sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        raise BuildError(f"no Scala sources under {ROOT}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "instruments/*.scala")))
    return main, bench


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars, out, sources, extra_cp=()):
    os.makedirs(out)
    cp = os.pathsep.join([*extra_cp, os.path.join(jars, "*")])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:+PerfDisableSharedMem",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", cp, *sources]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Compile if needed; return (classpath, jvm flags from build.sbt)."""
    version, jars, jvm = sbt_settings()
    compiler = os.path.join(jars, f"scala-compiler-{version}.jar")
    if not os.path.isfile(compiler):
        raise BuildError(f"build.sbt wants Scala {version}, {compiler} is missing")
    main, bench = _sources()
    resources = os.path.join(ROOT, "src/main/resources")
    stamp = _stamp([os.path.join(ROOT, "build.sbt"), *main, *bench])
    stamp_file = os.path.join(CLASSES, "stamp")
    main_out, bench_out = (os.path.join(CLASSES, d) for d in ("main", "bench"))
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp):
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _scalac(jars, os.path.join(tmp, "main"), main)
        _scalac(jars, os.path.join(tmp, "bench"), bench,
                [os.path.join(tmp, "main")])
        with open(os.path.join(tmp, "stamp"), "w") as f:
            f.write(stamp)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
    cp = [bench_out, main_out] + ([resources] if os.path.isdir(resources) else [])
    return os.pathsep.join(cp + [os.path.join(jars, "*")]), jvm


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
