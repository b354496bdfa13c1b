"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own sources (perfbench/src) into one class directory, with
the Scala compiler that ships among the Spark jars the project builds
against. A rebuild happens only when a source file or the jar set changes.

    python3 perfbench/build.py        # prints the class directory
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the project's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        sbt = os.path.join(REPO, "build.sbt")
        if not os.path.isfile(sbt):
            raise BuildError("no build.sbt next to the benchmark and no SPARK_HOME")
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not (os.path.isdir(jars) and any(n.startswith("spark-sql_") for n in os.listdir(jars))):
        raise BuildError(f"no Spark jars in {jars}")
    return jars


def sources():
    """Every .scala file of graft's main tree and of the benchmark."""
    main = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"graft sources not found under {main}")
    found = []
    for top in (main, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def fingerprint(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return (class directory, jar directory)."""
    jars = spark_jars()
    srcs = sources()
    stamp = fingerprint(srcs, jars)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    staging = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", staging, "-classpath", cp, "@" + argfile]
    done = subprocess.run(cmd, stdout=log, stderr=log)
    if done.returncode != 0:
        raise BuildError(f"scalac exited with {done.returncode}")
    resources = os.path.join(REPO, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, staging, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
